package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import graft.{GraftSession, SparkEntry}
import graft.kg.Sparql

/** Closed-loop, single-client benchmark of graft as a library: one
  * driver thread runs a workload's items one after another on
  * `GraftSession.builder("local[4]", 4)`.
  *
  * A run sets the session up once, sweeps, runs a first pass (every
  * item once, seeded order), then the workload's `Workloads.warmPasses`
  * warm passes (each in a fresh seeded order). With `--trace 1` the
  * passes after set-up are a traced first pass, one traced warm pass and an
  * isolated-cold pass that sweeps before every item; the tracing
  * overhead is taken against `--reference`, artifacts of untraced runs
  * of the same build (best the same seed's, whose passes ran the same
  * orders; else the median over other seeds').
  *
  * Usage: `Main --workload W --seed N --trace 0|1 --data DIR
  * --expected FILE --work DIR --out DIR --build ID [--reference FILE,...]`,
  * or `Main --emit-oracles FILE`.
  */
object Main {
  val Cores = 4

  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    a.get("emit-oracles") match {
      case Some(path) => emitOracles(path)
      case None =>
        val r = new Run(a)
        r.log("loaded")
        r.run()
    }
  }

  /** Writes the DuckDB query of every workload key and every
    * `optional_star` template, for the expected-count generator. */
  def emitOracles(path: String): Unit = {
    val root = mapper.createObjectNode()
    val keys = root.putObject("keys")
    val oracles = SparkEntry.oracleSql
    Workloads.keys.values.flatten.toSeq.sorted.foreach(k => keys.put(k, oracles(k)))
    val templates = root.putObject("templates")
    OptionalStar.all.foreach { case (k, n) => templates.put(OptionalStar.id(k, n), OptionalStar.sql(k, n)) }
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(path), root)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  object Plans extends AdaptiveSparkPlanHelper
}

final case class Sample(pass: String, item: String, module: String, seconds: Double,
    rows: Long, expected: Long, error: String) {
  def ok: Boolean = error == null && rows == expected
}

final class Run(a: Map[String, String]) {
  import Main._

  private def arg(k: String): String =
    a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))

  val workload: String = arg("workload")
  val seed: Long = arg("seed").toLong
  val traced: Boolean = arg("trace") == "1"
  val dir: String = arg("data")
  val work: String = arg("work")
  val outDir: String = arg("out")
  val dataName: String = Paths.get(dir).getFileName.toString
  val buildId: String = arg("build")

  val rng = new scala.util.Random(seed)
  val items: Seq[Item] = Workloads.items(workload, rng)
  val entry: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries

  val expected: Map[String, Long] = {
    val root = mapper.readTree(new File(arg("expected"))).get(dataName)
    require(root != null, s"no expected counts for $dataName")
    (root.get("keys").properties().asScala ++ root.get("templates").properties().asScala)
      .map(e => e.getKey -> e.getValue.asLong).toMap
  }
  items.foreach(i => require(expected.contains(i.expectKey), s"no expected count for ${i.expectKey}"))

  val samples = ArrayBuffer.empty[Sample]
  var attempted = 0
  var failed = 0
  var leftoverMb = 0.0
  var unhookedMb = 0.0
  var lastItem = "set-up"
  var cachedPeakMb = 0.0
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  var spark: SparkSession = _

  def builder(): SparkSession.Builder = {
    val b = GraftSession.builder(s"local[$Cores]", Cores)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
    // the traced run must not drop task events between drains
    if (traced) b.config("spark.scheduler.listenerbus.eventqueue.capacity", "200000") else b
  }

  /** Session set-up: `getOrCreate` plus the one warm-up query graft's
    * own Bench runs before its timed queries. Returns the seconds from
    * JVM start to the ready session, and those of the set-up alone. */
  def setup(): (Double, Double) = {
    val t0 = System.nanoTime()
    spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions.{col, count}
    spark.read.parquet(s"$dir/region.parquet")
      .groupBy(col("r_name")).agg(count(col("r_regionkey"))).count()
    val session = secsSince(t0)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    ((System.currentTimeMillis() - jvmStart) / 1e3, session)
  }

  def cachedMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6

  private val stagingPrefixes = Seq("graft_stream_src", "graft_stream_docs", "graft_stream_cdclog")

  private def sizeOf(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Bench's sweep: every reset hook, the SQL cache, then every RDD
    * still persistent. What the blanket unpersist frees is counted in
    * `unhookedMb`: an RDD still stored once the hooks and the SQL cache
    * have run and the JVM has collected what they dropped is held by
    * something no hook reaches. The sweep fails if a `graft_*` managed
    * table or a streaming staging dir is left. */
  def sweep(): Unit = {
    graft.er.ER.resetMemo()
    graft.kg.GraphMetrics.resetMemo()
    graft.kg.Graphs.resetMemo()
    graft.kg.Rdf.resetMemo()
    graft.dedup.Dedup.resetStores()
    graft.queries.Incremental.resetStores()
    graft.streaming.Streaming.resetStaging()
    spark.catalog.clearCache()
    // the persistent-RDD map holds its RDDs weakly: after a GC it keeps
    // only those something still references
    System.gc()
    val unhooked = spark.sparkContext.getRDDStorageInfo
    if (unhooked.nonEmpty) {
      unhookedMb += unhooked.map(r => r.memSize + r.diskSize).sum / 1e6
      System.err.println(s"[perfbench] after $lastItem the reset hooks left cached RDDs " +
        unhooked.map(r => s"${r.id} (${r.callSite}, ${r.memSize + r.diskSize} B)").mkString(", "))
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()

    val tables = spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_"))
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val staging = {
      val s = Files.list(tmp)
      try s.iterator().asScala.filter(p => stagingPrefixes.exists(p.getFileName.toString.startsWith)).toList
      finally s.close()
    }
    attempted += 1
    if (tables.nonEmpty || staging.nonEmpty) {
      failed += 1
      leftoverMb += (staging.map(sizeOf).sum +
        tables.map(t => sizeOf(Paths.get(s"$work/warehouse", t))).sum) / 1e6
      System.err.println(s"[perfbench] sweep after $lastItem left " +
        s"tables ${tables.mkString(",")}, staging ${staging.mkString(",")}")
    }
  }

  def record(pass: String, item: Item, secs: Double, rows: Long, err: String): Unit = {
    val s = Sample(pass, item.id, item.module, secs, rows, expected(item.expectKey), err)
    samples += s
    lastItem = s"${item.id} in $pass"
    attempted += 1
    if (!s.ok) {
      failed += 1
      System.err.println(s"[perfbench] ${item.id} in $pass: " +
        Option(err).getOrElse(s"$rows rows, expected ${s.expected}"))
    }
  }

  def build(item: Item): DataFrame = item.text match {
    case Some(t) => Sparql.run(spark, dir, t)
    case None => entry(item.id)(spark, dir)
  }

  /** An untraced pass: a plain `count()` per item. Returns wall seconds. */
  def pass(name: String, order: Seq[Item]): Double = {
    val t0 = System.nanoTime()
    order.foreach { item =>
      val t1 = System.nanoTime()
      val (rows, err) =
        try (build(item).count(), null)
        catch { case e: Exception => (-1L, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      record(name, item, secsSince(t1), rows, err)
    }
    secsSince(t0)
  }

  def order(): Seq[Item] = rng.shuffle(items)

  /** The untraced first pass and warm passes; returns their walls. */
  def passes(): (Double, Seq[Double]) = {
    sweep()
    val first = pass("first", order())
    val warm = (1 to Workloads.warmPasses(workload)).map(i => pass(s"warm$i", order()))
    (first, warm)
  }

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def log(what: String): Unit = System.err.println(f"[perfbench] $what at " +
    f"${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s after JVM start")

  def run(): Unit = {
    Files.createDirectories(Paths.get(outDir))
    val (jvmToReady, session) = setup()
    log("set up")
    val artifact = mapper.createObjectNode()
    artifact.put("workload", workload).put("seed", seed).put("data", dataName)
      .put("cores", Cores).put("trace", traced).put("build", buildId)
      .put("setup_s", jvmToReady).put("setup.session_s", session)

    if (!traced) {
      val (first, warm) = passes()
      log("passes done")
      val warmSamples = samples.filter(_.pass.startsWith("warm")).map(_.seconds).toSeq
      artifact.put("query_p50_samples", warmSamples.size)
      artifact.put("first_pass_s", first)
      val warmArr = artifact.putArray("warm_pass_s")
      warm.foreach(warmArr.add(_))
      put("setup_s", jvmToReady, "s")
      put("first_pass_s", first, "s")
      put("warm_pass_s", median(warm), "s")
      put("query_p50_s", median(warmSamples), "s")
    } else {
      val refs = arg("reference").split(",").toSeq.map(f => mapper.readTree(new File(f)))
      refs.foreach(ref => require(ref.get("build").asText == buildId && !ref.get("trace").asBoolean &&
        ref.get("workload").asText == workload && ref.get("data").asText == dataName,
        "a reference is not an untraced run of this workload and build"))
      val refSeeds = artifact.putArray("reference_seeds")
      refs.foreach(ref => refSeeds.add(ref.get("seed").asLong))
      // the same seed's first and first warm pass ran the orders the
      // traced first and warm passes run
      val refFirst = median(refs.map(_.get("first_pass_s").asDouble))
      val refWarm = median(refs.map(_.get("warm_pass_s").get(0).asDouble))
      new Traced(this, artifact).run(refFirst, refWarm)
      log("passes done")
      put("setup.session_s", session, "s")
      put("cached_peak_mb", cachedPeakMb, "MB")
      put("checkpoint.sweep_leftover_mb", leftoverMb, "MB")
      put("checkpoint.sweep_unhooked_mb", unhookedMb, "MB")
      put("failed_frac", failed.toDouble / attempted, "ratio")
    }

    val samplesArr = artifact.putArray("samples")
    samples.foreach { s =>
      samplesArr.addObject().put("pass", s.pass).put("item", s.item).put("module", s.module)
        .put("seconds", s.seconds).put("rows", s.rows).put("expected", s.expected)
        .put("error", s.error)
    }
    val path = Paths.get(outDir, s"${workload}_${dataName}_seed${seed}_trace${if (traced) 1 else 0}.json")
    mapper.writerWithDefaultPrettyPrinter().writeValue(path.toFile, artifact)
    System.err.println(s"[perfbench] artifact $path")
    spark.stop()
    log("stopped")

    metrics.foreach { case (k, (v, u)) => println(s"$workload $k $v $u") }
    if (!traced) println(s"$workload query_p50_s.samples ${artifact.get("query_p50_samples")} count")
    val result = mapper.createObjectNode()
    result.put("correct", failed == 0).put("attempted", attempted).put("failed", failed)
    val m = result.putObject("metrics")
    metrics.foreach { case (k, (v, u)) => m.putObject(k).put("value", v).put("unit", u) }
    println(mapper.writeValueAsString(result))
  }
}

/** The traced part of a `--trace 1` run. */
final class Traced(r: Run, artifact: ObjectNode) {
  import Main._

  val tracer = new Tracer(r.spark)
  val root: Span = tracer.open(-1, "workload", r.workload)
  val moduleNames: Seq[String] = Workloads.modules.map(_._1)

  /** One traced item under `passSpan`: build, plan and exec phases. */
  def item(passSpan: Span, item: Item, agg: PassAgg, pass: String): ObjectNode = {
    tracer.discardPending()
    val key = tracer.open(passSpan.id, "key", item.id)
    val t0 = System.nanoTime()
    val rec = mapper.createObjectNode().put("item", item.id).put("pass", pass)
    var rows = -1L
    var err: String = null
    val phases = ArrayBuffer.empty[Span]
    try {
      val (df, bSpan, bSecs) = tracer.phase(key, "build") { b =>
        item.text match {
          case Some(t) =>
            val (q, ps) = tracer.call(b, "kg.Sparql.parse")(Sparql.parse(t))
            val (df, cs) = tracer.call(b, "kg.Sparql.compile")(Sparql.compile(r.spark, r.dir, q))
            agg.add("kg.Sparql.parse_s", ps)
            agg.add("kg.Sparql.compile_s", cs)
            df
          case None => r.entry(item.id)(r.spark, r.dir)
        }
      }
      phases += bSpan
      agg.add("graft.build_s", bSecs)
      rec.put("build_s", bSecs)
      val (c, pSpan, pSecs) = tracer.phase(key, "plan") { _ =>
        val c = df.groupBy().count()
        c.queryExecution.executedPlan
        c
      }
      phases += pSpan
      val qe = c.queryExecution
      val tracked = qe.tracker.phases
      var catalyst = 0.0
      Seq("analysis", "optimization", "planning").foreach { ph =>
        val s = tracked.get(ph).map(_.durationMs / 1e3).getOrElse(0.0)
        catalyst += s
        agg.add(s"catalyst.${ph}_s", s)
        rec.put(s"catalyst.${ph}_s", s)
      }
      agg.add("catalyst_s", catalyst)
      agg.add("plan_s", pSecs)
      rec.put("plan_s", pSecs)
      val nodes = qe.optimizedPlan.collect { case p => p }.size
      agg.add("catalyst.plan_nodes", nodes)
      val (n, eSpan, eSecs) = tracer.phase(key, "exec")(_ => c.collect().head.getLong(0))
      phases += eSpan
      rows = n
      val exchanges = Plans.collectWithSubqueries(qe.executedPlan) { case e: ShuffleExchangeLike => e }.size
      agg.add("catalyst.exchanges", exchanges)
      agg.add("spark.exec_s", eSecs)
      rec.put("exec_s", eSecs).put("plan_nodes", nodes).put("exchanges", exchanges)
    } catch { case e: Exception => err = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    tracer.close(key)
    val secs = secsSince(t0)
    r.record(pass, item, secs, rows, err)
    tracer.endKey(key, phases.toSeq, agg)
    agg.max("checkpoint.rdds_persisted", r.spark.sparkContext.getPersistentRDDs.size)
    val cached = r.cachedMb()
    agg.max("checkpoint.cached_mb", cached)
    r.cachedPeakMb = math.max(r.cachedPeakMb, cached)
    rec.put("wall_s", secs)
    Seq("jobs", "stages", "tasks").foreach(k => rec.put(k, phases.map(_.counts.getOrElse(k, 0.0)).sum))
    rec
  }

  def tracedPass(name: String, order: Seq[Item], sweepEach: Boolean, keys: ArrayBuffer[ObjectNode]): PassAgg = {
    val agg = new PassAgg
    val ps = tracer.open(root.id, "pass", name)
    val t0 = System.nanoTime()
    var swept = 0.0
    order.foreach { it =>
      if (sweepEach) { val ts = System.nanoTime(); r.sweep(); swept += secsSince(ts) }
      keys += item(ps, it, agg, name)
    }
    tracer.close(ps)
    val wall = secsSince(t0) - swept
    agg.add("pass_s", wall)
    agg.add("other_s", wall - agg("graft.build_s") - agg("catalyst_s") - agg("spark.exec_s"))
    val execWall = Trace.unionLength(agg.jobIntervals.toSeq) / 1e3
    agg.add("spark.core_util", if (execWall > 0) agg("spark.task_run_s") / (execWall * Cores) else 0.0)
    agg
  }

  val passMetrics: Seq[(String, String)] = Seq(
    "graft.build_s" -> "s", "graft.build_jobs" -> "count",
    "kg.Sparql.parse_s" -> "s", "kg.Sparql.compile_s" -> "s",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
    "catalyst.plan_nodes" -> "count", "catalyst.exchanges" -> "count",
    "spark.exec_s" -> "s", "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.core_util" -> "ratio", "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.sched_delay_s" -> "s", "spark.stage_skew_max" -> "ratio",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.input_mb" -> "MB", "spark.output_mb" -> "MB",
    "checkpoint.rdds_persisted" -> "count", "checkpoint.cached_mb" -> "MB",
    "streaming.batches" -> "count", "streaming.add_batch_s" -> "s", "streaming.wal_s" -> "s",
    "streaming.state_rows" -> "count", "streaming.state_mb" -> "MB",
    "pass_s" -> "s", "other_s" -> "s")

  def run(untracedFirst: Double, untracedWarm: Double): Unit = {
    val keys = ArrayBuffer.empty[ObjectNode]
    r.sweep()
    val first = tracedPass("traced_first", r.order(), sweepEach = false, keys)
    val warm = tracedPass("traced_warm", r.order(), sweepEach = false, keys)
    val cold = tracedPass("traced_cold", r.order(), sweepEach = true, keys)
    r.sweep() // so that every isolated item is followed by a sweep
    tracer.close(root)
    tracer.detach()

    passMetrics.foreach { case (k, u) =>
      r.put(s"first.$k", first(k), u)
      r.put(s"warm.$k", warm(k), u)
    }
    r.put("cold.wall_s", cold("pass_s"), "s")
    r.put("cold.graft.build_s", cold("graft.build_s"), "s")
    r.put("cold.plan_s", cold("plan_s"), "s")
    r.put("cold.spark.exec_s", cold("spark.exec_s"), "s")
    r.put("trace.overhead_first_s", first("pass_s") - untracedFirst, "s")
    r.put("trace.overhead_warm_s", warm("pass_s") - untracedWarm, "s")
    // per-module wall over the traced first and warm passes
    moduleNames.foreach { m =>
      def sum(p: String) = r.samples.filter(s => s.pass == p && s.module == m).map(_.seconds).sum
      r.put(s"$m.first_s", sum("traced_first"), "s")
      r.put(s"$m.warm_s", sum("traced_warm"), "s")
    }

    val split = artifact.putObject("split")
    Seq("first" -> (first, untracedFirst), "warm" -> (warm, untracedWarm))
      .foreach { case (n, (p, untracedWall)) =>
        split.putObject(n).put("untraced_pass_s", untracedWall).put("traced_pass_s", p("pass_s"))
          .put("graft.build_s", p("graft.build_s")).put("catalyst_s", p("catalyst_s"))
          .put("plan_other_s", p("plan_s") - p("catalyst_s")).put("spark.exec_s", p("spark.exec_s"))
          .put("other_s", p("other_s"))
          .put("overhead_s", p("pass_s") - untracedWall)
      }
    val keysArr = artifact.putArray("keys")
    keys.foreach(keysArr.add)
    val self = Trace.selfTimes(tracer.spans.toSeq)
    val spansArr = artifact.putArray("spans")
    tracer.spans.foreach { s =>
      val o = spansArr.addObject().put("id", s.id).put("parent", s.parent).put("kind", s.kind)
        .put("name", s.name).put("start_ms", s.start).put("end_ms", s.end).put("self_ms", self(s.id))
      if (s.counts.nonEmpty) {
        val c = o.putObject("counts")
        s.counts.foreach { case (k, v) => c.put(k, v) }
      }
    }
  }
}
