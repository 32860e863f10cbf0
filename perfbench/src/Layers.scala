package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming layer numbers, read from each query's `StreamingQueryProgress`
  * (kept by Spark whether or not the run is traced). */
object StreamStats {
  /** Micro-batch phases in execution order; the traced run lays them out
    * back to back from the trigger's start. */
  val Parts = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  def collect(qs: Seq[StreamingQuery], tr: Tracer, extra: mutable.Map[String, Double]): Unit = {
    def add(k: String, v: Double): Unit = PerfBench.add(extra, k, v)
    val lags = mutable.ArrayBuffer.empty[Double]
    qs.foreach { sq =>
      val ps = sq.recentProgress
      ps.foreach { p =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        add("streaming.plan_ms", d.getOrElse("queryPlanning", 0L).toDouble)
        add("streaming.offset_commit_ms",
          (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)).toDouble)
        add("streaming.add_batch_ms", d.getOrElse("addBatch", 0L).toDouble)
        p.stateOperators.foreach { s =>
          add("streaming.state_commit_ms", s.commitTimeMs.toDouble)
          add("streaming.state_update_ms", (s.allUpdatesTimeMs + s.allRemovalsTimeMs).toDouble)
          add("streaming.late_rows_dropped", s.numRowsDroppedByWatermark.toDouble)
        }
        val ev = p.eventTime.asScala
        for (mx <- ev.get("max"); wm <- ev.get("watermark")) {
          val w = Instant.parse(wm).toEpochMilli
          if (w > 0) lags += (Instant.parse(mx).toEpochMilli - w) / 1e3
        }
        if (tr.on) {
          var t = Instant.parse(p.timestamp).toEpochMilli * 1000
          Parts.foreach { k =>
            d.get(k).filter(_ > 0).foreach { ms =>
              tr.add(-1, s"stream.$k", sq.name, t, t + ms * 1000)
              t += ms * 1000
            }
          }
        }
      }
      val trig = ps.map(_.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L))
      val partMs = ps.flatMap(_.durationMs.asScala.toSeq).groupBy(_._1)
        .map { case (k, vs) => s"\"$k\":${vs.map(_._2.longValue).sum}" }.mkString(",")
      val commit = ps.flatMap(_.stateOperators.map(_.commitTimeMs)).sum
      println(s"""{"stream":"${sq.name}","triggers":${ps.length},"state_commit_ms":$commit,$partMs}""")
      // peak state over the feed: after the flush every key has expired
      add("streaming.state_rows",
        ps.map(_.stateOperators.map(_.numRowsTotal).sum).maxOption.getOrElse(0L).toDouble)
      add("streaming.state_bytes",
        ps.map(_.stateOperators.map(_.memoryUsedBytes).sum).maxOption.getOrElse(0L).toDouble)
    }
    add("streaming.watermark_lag_s", PerfBench.median(lags.toSeq))
  }
}

/** Per-layer metrics of a traced run: attaches the listener's jobs and
  * stages to the harness spans, computes each layer's self time, writes
  * the spans out, and sums counts per pass. */
object Layers {
  /** Spans that are one timed op; jobs outside them (output checks,
    * releases) are not counted. */
  val OpRoots = Set("query", "engine.refresh", "stream.batch")

  def metrics(a: PerfBench.Args, tr: Tracer, rec: Recorder, cpus: Int,
      extra: Map[String, Double], passes: Int): Seq[(String, Double, String)] =
    rec.synchronized {
      val jobs = rec.jobs.filter(j => j.group != "perfbench-drain" && j.endMs >= 0).toSeq
      // resolve parents by time: the innermost span open at the midpoint
      val harness = tr.spans.filter(s => s.parent >= 0).toVector
      def innermost(t: Long, among: Seq[Span]): Int = {
        val open = among.filter(s => s.startUs <= t && t <= s.endUs)
        if (open.isEmpty) 0 else open.maxBy(s => (s.startUs, -s.durUs)).id
      }
      val parts = tr.spans.filter(_.parent == -1).toVector
      val resolved = parts.map(s => s.copy(parent = innermost((s.startUs + s.endUs) / 2, harness)))
      tr.spans --= parts
      tr.spans ++= resolved
      val withParts = harness ++ resolved
      val jobSpan = jobs.map { j =>
        val (s, e) = (j.startMs * 1000, j.endMs * 1000)
        j.id -> tr.add(innermost((s + e) / 2, withParts), "job", j.id.toString, s, e)
      }.toMap
      val stageSpans = rec.stages.values.toSeq.filter(st => jobSpan.contains(st.jobId) &&
        st.endMs >= 0)
      stageSpans.foreach(st =>
        tr.add(jobSpan(st.jobId), "stage", st.id.toString, st.submitMs * 1000, st.endMs * 1000))

      val byId = tr.spans.map(s => s.id -> s).toMap
      def ancestors(id: Int): Iterator[Span] =
        Iterator.iterate(byId.get(id))(_.flatMap(s => byId.get(s.parent)))
          .takeWhile(_.isDefined).map(_.get)
      def under(id: Int, name: String): Boolean = ancestors(id).exists(_.name == name)
      def opRoot(id: Int): Boolean = ancestors(id).exists(s => OpRoots(s.name))

      val opJobs = jobs.filter(j => opRoot(jobSpan(j.id)))
      def sums(js: Seq[JobRec]): Seq[StageSums] = {
        val ids = js.map(_.id).toSet
        stageSpans.filter(st => ids(st.jobId)).flatMap(st => rec.sums.get(st.id))
      }
      val all = sums(opJobs)
      val engineJobs = opJobs.filter(j => under(jobSpan(j.id), "engine.refresh"))
      val eng = sums(engineJobs)
      def total(ss: Seq[StageSums])(f: StageSums => Long): Double = ss.map(f).sum.toDouble
      def spanSum(name: String): Double =
        tr.spans.filter(_.name == name).map(_.durUs).sum / 1e6
      val opWallS = tr.spans.filter(s => OpRoots(s.name)).map(_.durUs).sum / 1e6
      val refreshS = spanSum("engine.refresh")
      val sourceRows = extra.getOrElse("engine.source_rows", 0.0)

      // self time: every instant of the run goes to the deepest spans open
      // at it, split evenly where siblings overlap (concurrent stages,
      // broadcast jobs), so the self times add up to the traced wall time
      val depth = mutable.Map(0 -> 0)
      def depthOf(id: Int): Int = depth.getOrElseUpdate(id,
        byId.get(id).map(s => depthOf(s.parent) + 1).getOrElse(0))
      val layerOf = (s: Span) =>
        if (s.name.startsWith("stream.") && s.name != "stream.batch") "stream.part" else s.name
      val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val cuts = tr.spans.flatMap(s => Seq(s.startUs, s.endUs)).distinct.sorted
      cuts.zip(cuts.drop(1)).foreach { case (t0, t1) =>
        val open = tr.spans.filter(s => s.startUs <= t0 && s.endUs >= t1)
        if (open.nonEmpty) {
          val d = open.map(s => depthOf(s.id)).max
          val deepest = open.filter(s => depthOf(s.id) == d)
          deepest.foreach(s => self(layerOf(s)) += (t1 - t0) / 1e6 / deepest.size)
        }
      }

      writeSpans(a, tr)
      val p = passes.toDouble
      val stageCount = stageSpans.count(st => opJobs.exists(_.id == st.jobId))
      def ratio(x: Double, y: Double) = if (y <= 0) 0.0 else x / y
      val layer = Seq(
        ("plan.analysis_s", spanSum("plan.analysis") / p, "s"),
        ("plan.optimizer_s", spanSum("plan.optimizer") / p, "s"),
        ("plan.physical_s", spanSum("plan.physical") / p, "s"),
        ("ops.build_s", spanSum("ops.build") / p, "s"),
        ("ops.build_jobs", opJobs.count(j => under(jobSpan(j.id), "ops.build")) / p, "count"),
        ("exec.jobs", opJobs.size / p, "count"),
        ("exec.stages", stageCount / p, "count"),
        ("exec.tasks", total(all)(_.tasks) / p, "count"),
        ("exec.sched_delay_s", total(all)(_.schedDelayMs) / 1e3 / p, "s"),
        ("exec.core_util", ratio(total(all)(_.busyMs) / 1e3, opWallS * cpus), "ratio"),
        ("exec.task_cpu_s", total(all)(_.cpuNs) / 1e9 / p, "s"),
        ("exec.gc_s", total(all)(_.gcMs) / 1e3 / p, "s"),
        ("exec.spill_bytes", total(all)(_.spillBytes) / p, "bytes"),
        ("shuffle.write_bytes", total(all)(_.shufWrite) / p, "bytes"),
        ("shuffle.read_bytes", total(all)(_.shufRead) / p, "bytes"),
        ("shuffle.fetch_wait_s", total(all)(_.fetchWaitMs) / 1e3 / p, "s"),
        ("tables.scan_bytes", total(all)(_.inBytes) / p, "bytes"),
        ("tables.scan_rows", total(all)(_.inRows) / p, "count"),
        ("tables.scan_tasks", total(all)(_.scanTasks) / p, "count"),
        ("engine.refresh_s", extra.getOrElse("engine.refresh_s", 0.0) / p, "s"),
        ("engine.jobs", engineJobs.size / p, "count"),
        ("engine.write_bytes", total(eng)(_.outBytes) / p, "bytes"),
        ("engine.write_rows", total(eng)(_.outRows) / p, "count"),
        ("engine.core_util", ratio(total(eng)(_.busyMs) / 1e3, refreshS * cpus), "ratio"),
        ("engine.scan_amplification", ratio(total(eng)(_.inRows) / p, sourceRows), "ratio"),
        ("streaming.rows_per_s", ratio(extra.getOrElse("streaming.rows", 0.0),
          extra.getOrElse("streaming.rows_s", 0.0)), "1/s"),
        ("streaming.plan_ms", extra.getOrElse("streaming.plan_ms", 0.0) / p, "ms"),
        ("streaming.offset_commit_ms",
          extra.getOrElse("streaming.offset_commit_ms", 0.0) / p, "ms"),
        ("streaming.state_commit_ms",
          extra.getOrElse("streaming.state_commit_ms", 0.0) / p, "ms"),
        ("streaming.add_batch_ms", extra.getOrElse("streaming.add_batch_ms", 0.0) / p, "ms"),
        ("streaming.state_update_ms",
          extra.getOrElse("streaming.state_update_ms", 0.0) / p, "ms"),
        ("streaming.state_rows", extra.getOrElse("streaming.state_rows", 0.0) / p, "count"),
        ("streaming.state_bytes", extra.getOrElse("streaming.state_bytes", 0.0) / p, "bytes"),
        ("streaming.watermark_lag_s",
          extra.getOrElse("streaming.watermark_lag_s", 0.0) / p, "s"),
        ("streaming.late_rows_dropped",
          extra.getOrElse("streaming.late_rows_dropped", 0.0) / p, "count"),
        ("jvm.op_gc_s", extra.getOrElse("jvm.op_gc_s", 0.0) / p, "s"),
        ("jvm.jit_s", extra.getOrElse("jvm.jit_s", 0.0) / p, "s"),
        ("trace.pass_s", extra.getOrElse("trace.pass_s", 0.0) / p, "s"),
        ("trace.op_wall_s", opWallS / p, "s"),
        ("trace.spans", tr.spans.size / p, "count"))
      val selfNames = Seq("workload", "query", "ops.build", "exec", "plan.analysis",
        "plan.optimizer", "plan.physical", "job", "stage", "engine.refresh", "check",
        "stream.batch", "stream.part")
      layer ++ selfNames.map(n =>
        (s"self.${n.replace('.', '_')}_s", self.getOrElse(n, 0.0) / p, "s"))
    }

  def writeSpans(a: PerfBench.Args, tr: Tracer): Unit = {
    val dir = new File(s"${a.work}/trace")
    dir.mkdirs()
    val lines = tr.spans.sortBy(s => (s.startUs, s.id)).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${PerfBench.q(s.name)},""" +
        s""""label":${PerfBench.q(s.label)},"start_us":${s.startUs},"end_us":${s.endUs}}""")
    Files.write(Paths.get(s"${dir}/${a.workload}-seed${a.seed}.jsonl"), lines.asJava)
  }
}
