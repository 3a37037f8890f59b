package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** A node of the traced run's tree: workload → pass → key → phase →
  * job → stage. `start`/`end` are epoch ms on the scheduler's clock;
  * `counts` holds what the span adds up. */
final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
    val start: Long, var end: Long = -1L) {
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v
}

final class JobRec(val id: Int, val group: String, val start: Long, val stageIds: Seq[Int]) {
  var end: Long = -1L
}

final class StageRec(val id: Int) {
  var start, end = -1L
  val runMs = ArrayBuffer.empty[Long]
  var cpuNs, gcMs, schedMs, shuffleRead, shuffleWrite, spill, input, output = 0L
}

/** Collects jobs, stages and tasks from the listener bus, and the
  * progress of every streaming micro-batch: the context's bus carries
  * the `StreamingQueryListener` events of every session, including the
  * ones graft's streaming replays open. */
final class Probe extends SparkListener {
  private val jobs = ArrayBuffer.empty[JobRec]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  private val progress = ArrayBuffer.empty[StreamingQueryProgress]

  private def stage(id: Int): StageRec = stages.getOrElseUpdate(id, new StageRec(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs += new JobRec(e.jobId, group, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val r = stage(e.stageInfo.stageId)
    r.start = e.stageInfo.submissionTime.getOrElse(-1L)
    r.end = e.stageInfo.completionTime.getOrElse(-1L)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent => synchronized { progress += p.progress }
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val r = stage(e.stageId)
      val info = e.taskInfo
      val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      r.runMs += m.executorRunTime
      r.cpuNs += m.executorCpuTime
      r.gcMs += m.jvmGCTime
      r.schedMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      r.input += m.inputMetrics.bytesRead
      r.output += m.outputMetrics.bytesWritten
    }
  }

  /** Everything recorded since the last call, with the stages of
    * those jobs (a stage belongs to the first job that lists it). */
  def take(): (Seq[JobRec], Map[Int, Seq[StageRec]], Seq[StreamingQueryProgress]) = synchronized {
    val js = jobs.toList
    val seen = mutable.HashSet.empty[Int]
    val byJob = js.map { j =>
      j.id -> j.stageIds.filter(seen.add).flatMap(stages.get).filter(_.start >= 0)
    }.toMap
    val ps = progress.toList
    jobs.clear(); stages.clear(); progress.clear()
    (js, byJob, ps)
  }
}

/** Per-pass totals of a traced pass. */
final class PassAgg {
  val v: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, x: Double): Unit = v(k) = v.getOrElse(k, 0.0) + x
  def max(k: String, x: Double): Unit = v(k) = math.max(v.getOrElse(k, 0.0), x)
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  def apply(k: String): Double = v.getOrElse(k, 0.0)
}

/** The traced run's recorder: opens driver-side spans, tags each
  * phase's jobs with a job group, and after every key drains the
  * listener bus and hangs that key's jobs and stages under its phases. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val probe = new Probe
  sc.addSparkListener(probe)
  val spans = ArrayBuffer.empty[Span]

  def open(parent: Int, kind: String, name: String): Span = {
    val s = new Span(spans.size, parent, kind, name, System.currentTimeMillis())
    spans += s
    s
  }

  def close(s: Span): Unit = s.end = System.currentTimeMillis()

  /** Runs `body` as span `name` under `parent`; jobs it submits from
    * this thread carry the span's job group. Returns the result and
    * the span's wall seconds. */
  def phase[T](parent: Span, name: String)(body: Span => T): (T, Span, Double) = {
    val s = open(parent.id, "phase", name)
    sc.setJobGroup(s"perfbench-${s.id}", name)
    val t0 = System.nanoTime()
    try {
      val r = body(s)
      (r, s, (System.nanoTime() - t0) / 1e9)
    } finally { sc.clearJobGroup(); close(s) }
  }

  /** A driver-side call span (e.g. `Sparql.parse`) with its seconds. */
  def call[T](parent: Span, name: String)(body: => T): (T, Double) = {
    val s = open(parent.id, "call", name)
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally close(s)
  }

  /** Drops what the bus recorded outside any key (e.g. during a sweep). */
  def discardPending(): Unit = {
    BenchBus.drain(sc)
    probe.take()
  }

  private def within(inner: (Long, Long), outer: Span): Boolean =
    outer.start <= inner._1 && inner._2 <= outer.end

  /** Attaches the key's jobs and stages and adds their counts to the
    * key's phases and to `agg`. */
  def endKey(key: Span, phases: Seq[Span], agg: PassAgg): Unit = {
    BenchBus.drain(sc)
    val (jobs, stagesOf, progress) = probe.take()
    streaming(key, progress, agg)
    val build = phases.find(_.name == "build")
    jobs.filter(_.end >= 0).foreach { j =>
      val iv = (j.start, j.end)
      // own group first; jobs of other threads by time
      val parent = phases.find(p => j.group == s"perfbench-${p.id}")
        .orElse(phases.find(within(iv, _)))
        .orElse(Some(key).filter(within(iv, _)))
      val js = new Span(spans.size, parent.map(_.id).getOrElse(-1), "job", s"job ${j.id}", j.start, j.end)
      spans += js
      agg.jobIntervals += iv
      agg.add("spark.jobs", 1)
      if (parent.exists(p => build.contains(p))) agg.add("graft.build_jobs", 1)
      stagesOf(j.id).foreach { st =>
        val ss = new Span(spans.size, js.id, "stage", s"stage ${st.id}", st.start, st.end)
        spans += ss
        val tasks = st.runMs.size
        val c = Seq(
          "tasks" -> tasks.toDouble,
          "task_run_s" -> st.runMs.sum / 1e3,
          "task_cpu_s" -> st.cpuNs / 1e9,
          "gc_s" -> st.gcMs / 1e3,
          "sched_delay_s" -> st.schedMs / 1e3,
          "shuffle_read_mb" -> st.shuffleRead / 1e6,
          "shuffle_write_mb" -> st.shuffleWrite / 1e6,
          "spill_mb" -> st.spill / 1e6,
          "input_mb" -> st.input / 1e6,
          "output_mb" -> st.output / 1e6)
        c.foreach { case (k, x) => ss.add(k, x); js.add(k, x); agg.add(s"spark.$k", x) }
        agg.add("spark.stages", 1)
        js.add("stages", 1)
        if (tasks >= 2) {
          val sorted = st.runMs.sorted
          val med = math.max(1L, sorted(sorted.size / 2))
          agg.max("spark.stage_skew_max", sorted.last.toDouble / med)
        }
      }
      parent.foreach { p =>
        p.add("jobs", 1)
        js.counts.foreach { case (k, x) => p.add(k, x) }
      }
    }
  }

  /** The key's micro-batches: their count, addBatch and WAL (walCommit
    * plus commitOffsets) time, and the peak state of each query, summed
    * over the key's queries. */
  private def streaming(key: Span, progress: Seq[StreamingQueryProgress], agg: PassAgg): Unit =
    if (progress.nonEmpty) {
      def ms(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val batches = progress.filter(_.durationMs.containsKey("addBatch"))
      val peaks = progress.groupBy(_.runId).values.toSeq.map { ps =>
        (ps.map(_.stateOperators.map(_.numRowsTotal).sum).max,
          ps.map(_.stateOperators.map(_.memoryUsedBytes).sum).max)
      }
      Seq(
        "streaming.batches" -> batches.size.toDouble,
        "streaming.add_batch_s" -> batches.map(ms(_, "addBatch")).sum / 1e3,
        "streaming.wal_s" -> batches.map(p => ms(p, "walCommit") + ms(p, "commitOffsets")).sum / 1e3,
        "streaming.state_rows" -> peaks.map(_._1).sum.toDouble,
        "streaming.state_mb" -> peaks.map(_._2).sum / 1e6
      ).foreach { case (k, x) => key.add(k, x); agg.add(k, x) }
    }

  def detach(): Unit = sc.removeSparkListener(probe)
}

object Trace {
  /** Length of the union of intervals, in the intervals' unit. */
  def unionLength(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur: Option[(Long, Long)] = None
    ivs.sortBy(_._1).foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    total + cur.map { case (s, e) => e - s }.getOrElse(0L)
  }

  /** Each span's self time: its length minus the union of its
    * children's intervals. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      s.id -> ((s.end - s.start) -
        unionLength(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))))
    }.toMap
  }
}
