package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{SparkEntry, Tables}
import graft.engine.{NoaaPipelines, Registry}
import graft.streaming.Streams

/** One event of the streaming workload's feed. */
final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** The repository benchmark. Runs one workload through the engine's public
  * entry points from a single closed-loop client thread and prints one
  * JSON result line. Usage (normally through `perfbench/run.py`):
  *
  *   PerfBench --workload medallion|queries --seed n
  *     --seconds s --trace 0|1 --data dir --work dir --expected file
  *     [--record file]
  */
object PerfBench {

  /** The `queries` workload: reference-surface / TPC-H-shape queries, whose
    * data scales with sf (scan, planning and shuffle dominate), then
    * LLM-data-pipeline operators over fixed-size corpora (driver-side
    * builders, codegen kernels and job scheduling dominate): three
    * single-pass kernels and one iterative multi-job query. */
  val Queries: Seq[String] = Seq(
    "q1_agg", "q90_star_join", "q208_supplier_cnt",
    "q13_token_stats", "q17_dedup_exact", "q21_knn_cosine", "q111_table_checksum")

  val SetupRounds = 4
  /** Run once in every set-up round, as the engine's bench does, so the
    * first measured op does not pay the JVM's warm-up of the scan,
    * aggregate and shuffle paths. */
  val WarmupQuery = "q1_agg"
  val StreamBatches = 2
  val PrimeRows = 1000
  /** Source tables the refreshed DAG reads. */
  val Sources = Seq("customer", "nation", "events")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, work: String, expected: String, record: Option[String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("data"), m("work"), m("expected"), m.get("record"))
  }

  /** Per-run outcome accounting: every query, refreshed dataset, stream
    * batch and stream sink is one attempt; a throw or a wrong output is a
    * failure, and a thrown op never enters the latency samples. */
  final class Outcome(expected: Map[String, String], recording: Boolean) {
    var attempted, failed = 0
    val recorded = mutable.LinkedHashMap.empty[String, String]
    def check(key: String, fp: String): Unit = {
      attempted += 1
      recorded(key) = fp
      if (!expected.get(key).contains(fp) && !(recording && !expected.contains(key))) {
        failed += 1
        println(s"""{"mismatch":"$key","got":"$fp","want":"${expected.getOrElse(key, "")}"}""")
      }
    }
    def threw(key: String, e: Throwable): Unit = {
      attempted += 1; failed += 1
      val msg = String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")
        .replace("\"", "'").take(160)
      println(s"""{"error":"$key","class":"${e.getClass.getName}","msg":"$msg"}""")
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val expected = readFlatJson(a.expected)
    val out = new Outcome(expected, a.record.isDefined)
    val tr = new Tracer(a.trace)

    // Shuffle width as the engine's own bench derives it: ~2 MB of input
    // per partition, at least 4, with the core clamp applied last.
    val inBytes = Tables.names.map(n => new File(s"${a.data}/$n.parquet").length).sum
    val parts = math.min(cpus, math.max(4, math.ceil(inBytes / (2.0 * (1 << 20))).toInt))

    val setupS = (1 to SetupRounds).map { round =>
      val t0 = System.nanoTime()
      val s = session(a, cpus, parts)
      s.range(1000000L).selectExpr("sum(id)").collect()
      Tables.names.foreach(n => Tables.load(s, a.data, n).schema)
      warmPageCache(a.data)
      // a throw here shows again, counted, when the query is measured
      try SparkEntry.queries(WarmupQuery)(s, a.data).count() catch { case _: Throwable => () }
      release(s, Set.empty)
      val dt = (System.nanoTime() - t0) / 1e9
      if (round < SetupRounds) s.stop()
      dt
    }
    val spark = SparkSession.active
    mark("setup")
    println("{\"conf\":" + spark.conf.getAll.toSeq.sorted
      .map { case (k, v) => q(k) + ":" + q(v) }.mkString("{", ",", "}") + "}")

    val rec = new Recorder
    if (a.trace) spark.sparkContext.addSparkListener(rec)
    val jit0 = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val rng = new Random(a.seed)
    val samples = mutable.ArrayBuffer.empty[Double]
    val extra = mutable.LinkedHashMap.empty[String, Double]
    val clock = new Clock

    val loopT0 = System.nanoTime()
    var passes = 0
    tr.span("workload", a.workload) {
      // Whole passes only, so every run measures the same work whatever
      // its seed: the seed permutes the order, never the set.
      do {
        a.workload match {
          case "medallion" =>
            add(extra, "engine.refresh_s", refresh(spark, a, tr, out, clock, extra))
            streaming(spark, a, tr, out, rng, samples, extra, clock)
          case "queries" =>
            runQueries(spark, a, tr, out, rng.shuffle(Queries), samples, clock)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        passes += 1
      } while ((System.nanoTime() - loopT0) / 1e9 < a.seconds)
    }
    val loopS = (System.nanoTime() - loopT0) / 1e9
    mark("loop")
    val jitS = (ManagementFactory.getCompilationMXBean.getTotalCompilationTime - jit0) / 1e3

    release(spark, Set.empty)
    val leftoverRdds = spark.sparkContext.getPersistentRDDs.size
    val leftoverMb = spark.sparkContext.statusTracker.getExecutorInfos
      .map(_.usedOnHeapStorageMemory).sum / 1048576.0
    // the ContextCleaner drops what each GC unreferences asynchronously;
    // the lowest of a few settled collections does not depend on its timing
    val heapMb = (1 to 3).map { _ =>
      Thread.sleep(300)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    val metrics: Seq[(String, Double, String)] = if (!a.trace) {
      Seq(
        ("setup_s", median(setupS), "s"),
        ("ops_per_s", if (samples.isEmpty) 0.0 else samples.size / samples.sum, "1/s"),
        ("pass_s", clock.opS / passes, "s"),
        ("heap_live_mb", heapMb, "MB"))
    } else {
      drain(spark, rec)
      add(extra, "jvm.op_gc_s", clock.gcMs / 1e3)
      add(extra, "jvm.jit_s", jitS)
      add(extra, "trace.pass_s", loopS)
      Layers.metrics(a, tr, rec, cpus, extra.toMap, passes) ++ Seq(
        ("blocks.leftover_rdds", leftoverRdds.toDouble, "count"),
        ("blocks.leftover_mb", leftoverMb, "MB"))
    }
    println(s"""{"workload":"${a.workload}","seed":${a.seed},"passes":$passes,""" +
      s""""setup_rounds_s":[${setupS.map(fmt).mkString(",")}],""" +
      s""""op_s":[${samples.map(fmt).mkString(",")}],""" +
      s""""failed_frac":${if (out.attempted == 0) 0 else out.failed.toDouble / out.attempted}}""")
    a.record.foreach { f =>
      new File(s"${a.work}/results").mkdirs()
      Files.writeString(Paths.get(s"${a.work}/results/oracle_sql.json"),
        SparkEntry.oracleSql.filter(kv => Queries.contains(kv._1))
          .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",\n", "}"))
      Files.writeString(Paths.get(f), out.recorded.map { case (k, v) => s"  ${q(k)}: ${q(v)}" }
        .mkString("{\n", ",\n", "\n}\n"))
    }
    val m = metrics.map { case (k, v, u) =>
      s"${q(k)}:{\"value\":${fmt(v)},\"unit\":${q(u)}}"
    }.mkString("{", ",", "}")
    spark.stop()
    mark("end")
    println(s"""{"correct":${out.failed == 0 && out.attempted > 0},""" +
      s""""attempted":${out.attempted},"failed":${out.failed},"metrics":$m}""")
    System.out.flush()
    // everything is stopped and written; skip the JVM's shutdown hooks,
    // whose temp-dir sweeps run.py does itself
    Runtime.getRuntime.halt(0)
  }

  def session(a: Args, cpus: Int, parts: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.work}/tmp")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One sequential read of the inputs, as the engine's bench does, so the
    * first scan of each table does not measure cold-disk IO. */
  def warmPageCache(dir: String): Unit = {
    val buf = new Array[Byte](1 << 20)
    Option(new File(dir).listFiles()).getOrElse(Array.empty).foreach { f =>
      val in = new java.io.FileInputStream(f)
      try while (in.read(buf) >= 0) () finally in.close()
    }
  }

  /** Releases what an execution persisted, as the engine's bench does:
    * cached tables, persisted RDDs and `localCheckpoint` blocks, then a GC
    * so the ContextCleaner reclaims broadcast and shuffle residue. */
  def release(spark: SparkSession, keep: Set[Int]): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(false)
    }
    System.gc()
  }

  def runQueries(spark: SparkSession, a: Args, tr: Tracer, out: Outcome,
      names: Seq[String], samples: mutable.ArrayBuffer[Double], clock: Clock): Unit =
    names.foreach { name =>
      val keep = spark.sparkContext.getPersistentRDDs.keySet.toSet
      try {
        val (fp, dt) = clock.timed(tr.span("query", name) {
          val df = tr.span("ops.build", name)(SparkEntry.queries(name)(spark, a.data))
          tr.span("exec", name)(Fingerprint.of(df, tr))
        })
        out.check(s"query/$name", fp)
        samples += dt
        // recording also dumps the result for the DuckDB oracle compare
        if (a.record.isDefined) SparkEntry.queries(name)(spark, a.data).coalesce(1)
          .write.parquet(s"${a.work}/results/$name")
        println(f"""{"q":"$name","s":$dt%.4f}""")
      } catch { case e: Throwable => out.threw(s"query/$name", e) }
      release(spark, keep)
    }

  /** One `materializeToDir` refresh of the NOAA DAG (four datasets, one of
    * them joining two others) into a fresh directory; each written dataset
    * is then read back and checked. */
  def refresh(spark: SparkSession, a: Args, tr: Tracer, out: Outcome,
      clock: Clock, extra: mutable.Map[String, Double]): Double = {
    val dir = s"${a.work}/refresh"
    deleteTree(new File(dir))
    val reg = new Registry
    NoaaPipelines.register(reg)
    try {
      val (paths, dt) = clock.timed(tr.span("engine.refresh") {
        reg.materializeToDir(spark,
          name => Tables.load(spark, a.data, name.stripPrefix("src.")), dir)
      })
      println(f"""{"refresh_s":$dt%.4f}""")
      tr.span("check") {
        if (tr.on) extra("engine.source_rows") =
          Sources.map(n => Tables.load(spark, a.data, n).count()).sum.toDouble
        paths.toSeq.sortBy(_._1).foreach { case (n, p) =>
          out.check(s"dataset/$n", Fingerprint.of(spark.read.parquet(p), null))
        }
      }
      release(spark, Set.empty)
      dt
    } catch { case e: Throwable => out.threw("engine/refresh", e); 0.0 }
    finally deleteTree(new File(dir))
  }

  /** The silver streams: feeds `events` in event-time order as
    * micro-batches through two
    * stateful pipelines on the RocksDB provider, closed loop: add a batch,
    * then wait until both queries have processed it. The seed jitters the
    * batch boundaries and picks the redelivered rows. */
  def streaming(spark: SparkSession, a: Args, tr: Tracer, out: Outcome, rng: Random,
      samples: mutable.ArrayBuffer[Double], extra: mutable.Map[String, Double],
      clock: Clock): Unit = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    Streams.useRocksDbStateStore(spark)
    val root = s"${a.work}/stream"
    deleteTree(new File(root))
    val events = Tables.load(spark, a.data, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val feed = events.orderBy("ts", "event_id").as[Ev].collect()
    val dim = Tables.load(spark, a.data, "customer")
      .select($"c_custkey", $"c_mktsegment", $"c_nationkey")

    val clean = MemoryStream[Ev]
    val dirty = MemoryStream[Ev]
    def views(df: DataFrame) = df.where($"event_type" === "view")
      .select($"event_id".as("v_id"), $"user_id".as("v_user"), $"ts".as("v_ts"))
    def buys(df: DataFrame) = df.where($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id".as("p_user"), $"ts".as("p_ts"),
        $"value".as("p_value"))
    def join(v: DataFrame, p: DataFrame) = Streams.intervalJoinLeft(v, p,
      $"v_user" === $"p_user", "v_ts", "p_ts", "1 minute", "10 minutes")
    def enrich(df: DataFrame) =
      Streams.streamStaticLeft(df, dim, $"user_id" === $"c_custkey")

    // silver-stream shapes of the reference: a watermarked dedup feeding a
    // static dim lookup, and a stream-stream interval join
    val pipelines: Seq[(String, DataFrame)] = Seq(
      "dedup_enrich" ->
        enrich(Streams.dedupWithinWatermark(dirty.toDF(), "ts", Seq("event_id"))),
      "interval_join" -> join(
        Streams.watermarked(views(clean.toDF()), "v_ts"),
        Streams.watermarked(buys(clean.toDF()), "p_ts")))
    val queries: Seq[(String, StreamingQuery)] = pipelines.map { case (name, df) =>
      name -> df.writeStream.outputMode("append").format("parquet")
        .option("checkpointLocation", s"$root/ckpt/$name")
        .option("path", s"$root/$name").queryName(name).start()
    }

    // a small first batch pays each fresh query's plan compilation and
    // first state-store loads; the measured batches after it are warm
    val n = feed.length
    val size = (n - PrimeRows) / StreamBatches
    val cuts = Seq(0, PrimeRows) ++ (1 until StreamBatches).map(i =>
      PrimeRows + i * size + rng.nextInt(size / 4 + 1) - size / 8) :+ n
    var prev = Array.empty[Ev]
    var dead = false
    var rows = 0L
    var rowsS = 0.0
    def step(label: String, add: => Unit): Double = tr.span("stream.batch", label) {
      val (_, dt) = clock.timed {
        add
        queries.foreach(_._2.processAllAvailable())
      }
      dt
    }
    for (i <- 0 to StreamBatches) {
      val batch = feed.slice(cuts(i), cuts(i + 1))
      // redeliveries: the tail of the previous batch (deduplicated by state
      // inside the watermark) and a few random older rows (dropped as late)
      val again = prev.takeRight(20) ++ prev.filter(_ => rng.nextInt(100) == 0)
      if (dead) out.threw(s"batch/$i", new IllegalStateException("stream stopped"))
      else try {
        val dt = step(if (i == 0) "prime" else i.toString,
          { clean.addData(batch.toSeq); dirty.addData((batch ++ again).toSeq) })
        if (i > 0) {
          samples += dt
          rows += batch.length
          rowsS += dt
        }
        out.attempted += 1
        println(f"""{"batch":$i,"rows":${batch.length},"s":$dt%.4f}""")
      } catch { case e: Throwable => dead = true; out.threw(s"batch/$i", e) }
      prev = batch
    }
    // flush: a sentinel event a day later moves every watermark past all
    // state (dedup keys expire, unmatched views emit null-padded rows);
    // processAllAvailable also waits for the no-data batch that evicts
    if (!dead) try {
      val t = new Timestamp(feed.last.ts.getTime + 86400000L)
      val flush = Seq(Ev(-1L, t, -1L, "view", 0.0), Ev(-2L, t, -1L, "purchase", 0.0))
      step("flush", { clean.addData(flush); dirty.addData(flush) })
    } catch { case e: Throwable => dead = true; out.threw("batch/flush", e) }
    add(extra, "streaming.rows", rows)
    add(extra, "streaming.rows_s", rowsS)
    StreamStats.collect(queries.map(_._2), tr, extra)
    queries.foreach { case (_, sq) => sq.stop(); sq.awaitTermination() }

    // every sink against the committed fingerprint; recording also runs
    // each sink's batch twin over the same rows, as the equivalence specs
    // do, and records only a sink that equals its twin
    tr.span("check") {
      def twin(name: String): DataFrame =
        if (name == "interval_join") join(views(events), buys(events))
        else enrich(events.dropDuplicates("event_id"))
      queries.foreach { case (name, _) =>
        if (dead) out.threw(s"stream/$name", new IllegalStateException("stream stopped"))
        else try {
          val got = Fingerprint.of(spark.read.parquet(s"$root/$name")
            .where(F.col(if (name == "interval_join") "v_user" else "user_id") >= 0), null)
          val want = if (a.record.isDefined) Fingerprint.of(twin(name), null) else got
          if (got != want) out.threw(s"stream/$name",
            new IllegalStateException(s"sink $got differs from batch twin $want"))
          else out.check(s"stream/$name", got)
        } catch { case e: Throwable => out.threw(s"stream/$name", e) }
      }
    }
    deleteTree(new File(root))
  }

  /** Prints how far into the JVM's life a phase of the run ended. */
  def mark(phase: String): Unit =
    println(s"""{"phase":"$phase","uptime_s":${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}}""")

  def add(m: mutable.Map[String, Double], k: String, v: Double): Unit =
    m(k) = m.getOrElse(k, 0.0) + v

  def drain(spark: SparkSession, rec: Recorder): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup("perfbench-drain", "listener drain", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!rec.groupEnded("perfbench-drain") && System.nanoTime() < deadline) Thread.sleep(10)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def readFlatJson(path: String): Map[String, String] = {
    val f = new File(path)
    if (!f.exists()) Map.empty
    else new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(f, classOf[java.util.Map[String, String]]).asScala.toMap
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }
}

/** Times one op (a query, a refresh, a micro-batch) and sums the ops'
  * wall time and the JVM's collection time spent inside them. */
final class Clock {
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def collectMs: Long = beans.map(_.getCollectionTime).sum
  var gcMs = 0L
  var opS = 0.0
  def timed[T](body: => T): (T, Double) = {
    val g0 = collectMs
    val t0 = System.nanoTime()
    val r = body
    val dt = (System.nanoTime() - t0) / 1e9
    gcMs += collectMs - g0
    opS += dt
    (r, dt)
  }
}

/** Order-independent fingerprint of a result: row count plus sums of
  * per-row hashes over the rows rendered canonically (columns by name,
  * every value cast to string, nulls marked). Evaluating it executes the
  * whole result, every column included. */
object Fingerprint {
  def of(df: DataFrame, tr: Tracer): String = {
    val names = df.columns
    val d = df.toDF(names.indices.map(i => s"c$i"): _*)
    val cells = names.zipWithIndex.sortBy(_._1).map { case (_, i) =>
      F.coalesce(F.col(s"c$i").cast("string"), F.lit("\u0000"))
    }
    val row = F.concat_ws("\u0001", cells.toIndexedSeq: _*)
    val agg = d.select(F.xxhash64(row).as("h"), F.hash(row).as("g"))
      .agg(F.count(F.lit(1)), F.sum(F.col("h").cast("decimal(38,0)")),
        F.bit_xor(F.col("g")))
    val r = agg.collect().head
    if (tr != null && tr.on) {
      val qe = agg.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
      val parent = tr.current
      Seq("analysis" -> "plan.analysis", "optimization" -> "plan.optimizer",
        "planning" -> "plan.physical").foreach { case (k, name) =>
        qe.tracker.phases.get(k).foreach(p =>
          tr.add(parent, name, "", p.startTimeMs * 1000, p.endTimeMs * 1000))
      }
    }
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}:${Option(r.get(2)).getOrElse(0)}"
  }
}
