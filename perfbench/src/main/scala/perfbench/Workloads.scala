package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed unit of a workload: a `SparkEntry` key, or one seeded
  * `optional_star` SPARQL text (`text` set). `expectKey` names its
  * entry in the expected-count file. */
final case class Item(id: String, module: String, expectKey: String, text: Option[String])

object Workloads {
  /** The modules whose `queries` maps the workloads draw keys from;
    * a key's module is the map that holds it. */
  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "kg.Sparql" -> graft.kg.Sparql.queries,
    "kg.KGQueries" -> graft.kg.KGQueries.queries,
    "kg.GraphMetrics" -> graft.kg.GraphMetrics.queries,
    "er.ER" -> graft.er.ER.queries,
    "dedup.Dedup" -> graft.dedup.Dedup.queries,
    "dedup.Corpus" -> graft.dedup.Corpus.queries,
    "kg.Rdf" -> graft.kg.Rdf.queries,
    "streaming.Streaming" -> graft.streaming.Streaming.queries)

  /** Between them the two workloads time one key or more of every
    * module. `sparql_read` holds keys bound by compilation, planning
    * and scans, none of them in GraphX; `graph_er` holds GraphX and
    * fixpoint keys and the streaming replay, whose first pass builds
    * memos, checkpoints and staging. */
  val keys: Map[String, Seq[String]] = Map(
    "sparql_read" -> Seq("kg_sparql", "kg_export_nt", "dedup_minhash_lsh", "corpus_filter"),
    "graph_er" -> Seq("kg_pagerank", "kg_communities", "er_connected_components", "stream_window_agg"))

  /** Warm passes per run, fixed so that `query_p50_s` always takes its
    * median over the same mix of samples. `sparql_read` has two: its
    * median falls among short items (about 2.5 s warm), and over one
    * pass it rested on two samples. Across ten runs on a shared host
    * that spread by a quarter of the median. */
  val warmPasses: Map[String, Int] = Map("sparql_read" -> 2, "graph_er" -> 1)

  /** Workloads that add a seeded `optional_star` text to every pass. */
  val withTemplates: Set[String] = Set("sparql_read")

  def moduleOf(key: String): String =
    modules.collectFirst { case (m, q) if q.contains(key) => m }
      .getOrElse(throw new IllegalArgumentException(s"unknown key $key"))

  /** The workload's items; the templates are drawn from `rng`. */
  def items(workload: String, rng: scala.util.Random): Seq[Item] = {
    val ks = keys.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val drawn = if (withTemplates(workload)) Seq(OptionalStar.draw(rng)) else Nil
    ks.map(k => Item(k, moduleOf(k), k, None)) ++ drawn.map { case (k, n) =>
      Item("optional_star", "kg.Sparql", OptionalStar.id(k, n), Some(OptionalStar.sparql(k, n)))
    }
  }
}

/** `k` OPTIONAL blocks on one order subject, over orders, customers and
  * nations, filtered to one nation's label. Each text has a paired
  * DuckDB query over `Triples.sqlCte`; the expected-count file holds
  * the count of every (k, nation) pair, so any seed's draw is covered. */
object OptionalStar {
  val ks: Range = 2 to 6
  val nations: Range = 0 until 25

  // (SPARQL block, SQL relation (s, vN)) — the first k are used
  private val blocks: Seq[(Int => String, Int => String)] = Seq(
    (i => s"OPTIONAL { ?o status ?v$i . }",
      i => s"SELECT s, o_val AS v$i FROM triples WHERE p = 'status'"),
    (i => s"OPTIONAL { ?o priority ?v$i . }",
      i => s"SELECT s, o_val AS v$i FROM triples WHERE p = 'priority'"),
    (i => s"OPTIONAL { ?o placed_by ?x$i . ?x$i mktsegment ?v$i . }",
      i => s"SELECT a.s, b.o_val AS v$i FROM triples a JOIN triples b " +
        s"ON b.s = a.o_id AND b.p = 'mktsegment' WHERE a.p = 'placed_by'"),
    (i => s"OPTIONAL { ?o supplied_by ?v$i . }",
      i => s"SELECT s, o_id AS v$i FROM triples WHERE p = 'supplied_by'"),
    (i => s"OPTIONAL { ?o placed_by ?x$i . ?x$i label ?v$i . }",
      i => s"SELECT a.s, b.o_val AS v$i FROM triples a JOIN triples b " +
        s"ON b.s = a.o_id AND b.p = 'label' WHERE a.p = 'placed_by'"),
    (i => s"OPTIONAL { ?o has_part ?v$i . }",
      i => s"SELECT s, o_id AS v$i FROM triples WHERE p = 'has_part'"))
  require(blocks.size == ks.last)

  def id(k: Int, n: Int): String = s"optional_star_k${k}_n$n"

  /** The pass's text: k = 2 on a seeded nation. A seeded k would
    * change which item sits at the middle of the warm samples and so
    * move `query_p50_s` with the seed (spread 0.23 of the median over
    * ten seeds with k drawn from [2, 6]). */
  def draw(rng: scala.util.Random): (Int, Int) = (ks.head, nations(rng.nextInt(nations.size)))

  def all: Seq[(Int, Int)] = for (k <- ks; n <- nations) yield (k, n)

  def sparql(k: Int, n: Int): String = {
    val vars = (1 to k).map(i => s"?v$i").mkString(" ")
    val opts = (1 to k).map(i => "  " + blocks(i - 1)._1(i)).mkString("\n")
    s"""SELECT ?o ?c $vars WHERE {
       |  ?o placed_by ?c .
       |  ?c in_nation ?n .
       |  ?n label ?nname .
       |$opts
       |  FILTER(?nname = "NATION_$n")
       |}""".stripMargin
  }

  def sql(k: Int, n: Int): String = {
    val joins = (1 to k).map(i =>
      s"LEFT JOIN (${blocks(i - 1)._2(i)}) b$i ON b$i.s = m.o").mkString("\n")
    s"""${graft.kg.Triples.sqlCte}
       |SELECT m.o, m.c${(1 to k).map(i => s", b$i.v$i").mkString}
       |FROM (SELECT pb.s AS o, pb.o_id AS c FROM triples pb
       |  JOIN triples cn ON cn.s = pb.o_id AND cn.p = 'in_nation'
       |  JOIN triples nl ON nl.s = cn.o_id AND nl.p = 'label'
       |  WHERE pb.p = 'placed_by' AND nl.o_val = 'NATION_$n') m
       |$joins""".stripMargin
  }
}
