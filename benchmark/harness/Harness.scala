package benchharness

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.api.TrendCollection
import graft.model.RecentChange
import graft.operators.{DedupIndex, ExactDedupIndex, PageAggregates}
import graft.sources.EventAdapter

/** The JVM side of the benchmark: drives the program only through its
  * public functions, times the calls, and writes what it measured and
  * what the program returned to a JSON result file. The Python runner
  * (`benchmark/run.py`) makes the inputs, checks the outputs against its
  * own expected values and prints the metrics.
  *
  * Usage: `benchharness.Harness key=value ...` with keys
  * workload, work, out, seconds, trace, cores, plus the workload's own
  * (see each workload below).
  */
object Harness {

  def offsetOf(json: String): Long =
    if (json == null || json == "null") -1L else json.trim.toLong

  def micros(ts: Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000

  def cpuNanos(): Long = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  def cpuMs(c0: Long): Double = (cpuNanos() - c0) / 1e6

  def stateJson(r: Row): Map[String, Any] = Map(
    "id" -> r.getAs[String]("id"), "title" -> r.getAs[String]("title"),
    "wiki" -> r.getAs[String]("wiki"), "edits" -> r.getAs[Long]("edits"),
    "anonEdits" -> r.getAs[Long]("anonEdits"),
    "isNew" -> r.getAs[Boolean]("isNew"),
    "notabilityFlags" -> r.getAs[Long]("notabilityFlags"),
    "volatileFlags" -> r.getAs[Long]("volatileFlags"),
    "reverts" -> r.getAs[Long]("reverts"),
    "start" -> micros(r.getAs[Timestamp]("start")),
    "updated" -> micros(r.getAs[Timestamp]("updated")),
    "contributors" -> r.getSeq[String](r.fieldIndex("contributors")),
    "anons" -> r.getSeq[String](r.fieldIndex("anons")),
    "distribution" -> r.getMap[String, Long](r.fieldIndex("distribution")),
    "bytesChanged" -> r.getAs[Long]("bytesChanged"),
    "safe" -> r.getAs[Boolean]("safe"),
    "isProtected" -> r.getAs[Boolean]("isProtected"))

  def boardJson(r: Row): Map[String, Any] = {
    val base = Map[String, Any]("id" -> r.getAs[String]("id"),
      "title" -> r.getAs[String]("title"), "edits" -> r.getAs[Long]("edits"),
      "bytesChanged" -> r.getAs[Long]("bytesChanged"),
      "editsPerMinute" -> r.getAs[Double]("editsPerMinute"))
    if (r.schema.fieldNames.contains("bias"))
      base + ("bias" -> r.getAs[Double]("bias"))
    else base
  }

  /** Operation counts by kind: attempted, failed. */
  final class Ops {
    val counts = mutable.LinkedHashMap[String, Array[Long]]()
    def apply[T](kind: String)(body: => T): Option[T] = {
      val c = counts.getOrElseUpdate(kind, Array(0L, 0L))
      c(0) += 1
      try Some(body)
      catch {
        case t: Throwable =>
          c(1) += 1
          System.err.println(s"[bench] $kind failed: $t")
          None
      }
    }
    def add(kind: String, attempted: Long, failed: Long): Unit = {
      val c = counts.getOrElseUpdate(kind, Array(0L, 0L))
      c(0) += attempted; c(1) += failed
    }
    def json: Map[String, Any] = counts.map { case (k, v) =>
      k -> Map("attempted" -> v(0), "failed" -> v(1)) }.toMap
  }

  def main(args: Array[String]): Unit = {
    val launchedUs = Tracer.nowUs()
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val work = conf("work")
    val cores = conf("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-benchmark")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyUs = Tracer.nowUs()
    val tracer =
      if (conf("trace") == "1") {
        val t = new Tracer(spark.sparkContext, conf("run"))
        spark.sparkContext.addSparkListener(t.sparkListener)
        spark.streams.addListener(t.queryListener)
        Some(t)
      } else None
    val out = mutable.LinkedHashMap[String, Any]()
    out("jvm_start_ms") = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    out("session_ready_us") = sessionReadyUs
    out("main_entered_us") = launchedUs
    val ops = new Ops
    val w = new Workloads(spark, conf, tracer, ops, out)
    try conf("workload") match {
      case "backlog" => w.backlog()
      case "live" => w.live()
      case "dedup_ingest" => w.dedupIngest()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      out("ops") = ops.json
      out("phase_us") = Map("timed" -> w.phases.headOption.map(p => Seq(p._2, p._3))
        .getOrElse(Seq(0L, 0L)), "end" -> Tracer.nowUs())
      out("peak_rss_mb") = peakRssMb()
      tracer.foreach { t =>
        t.settle()
        t.batchSpans()
        out("trace") = new TraceReport(t, w.phases.toSeq, cores).json
        t.writeSpans(conf("spans"))
      }
      val pw = new java.io.PrintWriter(conf("out"), "UTF-8")
      try pw.print(Json.render(out)) finally pw.close()
      spark.stop()
    }
  }
}

/** The workloads. Each runs an untimed warm-up, then whole rounds until
  * `seconds` have passed, recording per-operation times.
  */
final class Workloads(spark: SparkSession, conf: Map[String, String],
    tracer: Option[Tracer], ops: Harness.Ops,
    out: mutable.LinkedHashMap[String, Any]) {
  import Harness._
  import spark.implicits._

  private val work = conf("work")
  private val seconds = conf("seconds").toDouble
  private val k = 10
  /** (name, start µs, end µs) of the timed phase, for the trace report. */
  val phases = mutable.ArrayBuffer[(String, Long, Long)]()

  private def span[T](name: String, layer: String, attrs: (String, Any)*)(
      body: => T): T =
    tracer match {
      case Some(t) => t.span(name, layer, attrs: _*)(body)
      case None => body
    }

  /** Run rounds until the timed phase has lasted `seconds`; returns the
    * number of rounds and records wall and CPU time of the phase.
    */
  private def timedRounds(maxRounds: Int)(round: Int => Unit): Int = {
    val cpu0 = cpuNanos(); val t0 = System.nanoTime(); val us0 = Tracer.nowUs()
    var n = 0
    while (n < maxRounds && (n == 0 || (System.nanoTime() - t0) / 1e9 < seconds)) {
      round(n); n += 1
    }
    out("timed_s") = (System.nanoTime() - t0) / 1e9
    out("timed_cpu_s") = (cpuNanos() - cpu0) / 1e9
    out("rounds") = n
    phases += (("timed", us0, Tracer.nowUs()))
    n
  }

  private def captureBatch(path: String): DataFrame =
    EventAdapter.decodeWire(spark.read.format("graft-sse").option("path", path).load())

  private def captureStream(path: String) =
    EventAdapter.decodeWire(
      spark.readStream.format("graft-sse").option("path", path).load())
      .as[RecentChange]

  // ------------------------------------------------------------- backlog

  /** Drain the capture into a fresh checkpoint, then render the boards
    * and read the snapshot top-k. Keys: capture, warm (a small capture
    * for the warm-up round), renders, snapshots, lookup (title of the
    * getPage call).
    */
  def backlog(): Unit = {
    val capture = conf("capture")
    val renders = conf("renders").toInt
    val snapshots = conf("snapshots").toInt
    val lookup = conf("lookup")
    // Wall and process CPU milliseconds per timed operation.
    val times = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    def measure[T](name: String, record: Boolean)(body: => T): T = {
      val t0 = System.nanoTime(); val c0 = cpuNanos()
      val v = body
      if (record) {
        times.getOrElseUpdate(name + "_ms", mutable.ArrayBuffer()) += ms(t0)
        times.getOrElseUpdate(name + "_cpu_ms", mutable.ArrayBuffer()) += cpuMs(c0)
      }
      v
    }
    var lastCkpt = ""
    var sinkRows = Seq.empty[Row]
    var boards = Map.empty[String, Any]
    var snapTop = Seq.empty[Row]

    def round(tag: String, capture: String, timed: Boolean): Unit = {
      val ckpt = s"$work/ckpt-$tag"
      val batchRows = mutable.ArrayBuffer[Row]()
      measure("drain", timed)(ops("drain") {
        span("TrendCollection.streaming (drain)", "streaming") {
          val q = TrendCollection.streaming(captureStream(capture), ckpt,
            evict = false, trigger = Trigger.AvailableNow()) { (ds, _) =>
            span("sink", "streaming") {
              val rows = ds.toDF().collect()
              batchRows.synchronized { batchRows ++= rows }
            }
          }
          q.awaitTermination()
          ops.add("micro_batches", q.recentProgress.length, 0)
        }
      })
      sinkRows = batchRows.toSeq
      for (_ <- 0 until renders) {
        measure("render", timed)(ops("render")(span("render", "api") {
          val tc = TrendCollection(spark, captureBatch(capture))
          def part[T](name: String)(body: => T): T = span(name, "api")(body)
          val e = part("topByEditsPerMinute")(tc.topByEditsPerMinute(k).collect())
          val b = part("topByBytesChanged")(tc.topByBytesChanged(k).collect())
          val bi = part("topByBias")(tc.topByBias(k).collect())
          val g = part("getPage")(tc.getPage(lookup, "enwiki"))
          boards = Map("edits" -> e.map(boardJson).toSeq,
            "bytes" -> b.map(boardJson).toSeq, "bias" -> bi.map(boardJson).toSeq,
            "page" -> g.map(boardJson))
        }))
      }
      for (_ <- 0 until snapshots) {
        measure("snapshot", timed)(ops("snapshot") {
          snapTop = span("stateSnapshot top-k", "api") {
            PageAggregates.topK(TrendCollection.stateSnapshot(spark, ckpt),
              "edits", k).collect().toSeq
          }
        })
      }
      if (lastCkpt.nonEmpty) TrendCollection.clearCache(spark, lastCkpt)
      lastCkpt = ckpt
    }

    round("warmup", conf("warm"), timed = false)
    ops.counts.clear()
    timedRounds(1000)(i => round(s"r$i", capture, timed = true))
    times.foreach { case (n, v) => out(n) = v.toSeq }
    out("boards") = boards
    out("snapshot_top") = snapTop.map(stateJson)
    out("sink_rows") = sinkRows.map(stateJson)
    out("state") = TrendCollection.stateSnapshot(spark, lastCkpt).collect()
      .toSeq.map(stateJson)
  }

  // ---------------------------------------------------------------- live

  /** A live subscription with the program's defaults over a log that a
    * separate generator process appends to. Keys: log, events (the
    * generated count), lead_ms (time from READY to the first due event),
    * feed_s (warm-up plus on phase), idle_s, ready (file the harness
    * writes t0 into once the query runs).
    */
  def live(): Unit = {
    val log = conf("log")
    val total = conf("events").toLong
    val feedS = conf("feed_s").toDouble
    val idleS = conf("idle_s").toDouble
    val warmS = conf("warm_s").toDouble
    val ckpt = s"$work/ckpt-live"
    // Warm-up: drain a small capture through the same pipeline and read
    // its snapshot once, so the live query starts on compiled code.
    val warmCkpt = s"$work/ckpt-warm"
    TrendCollection.streaming(captureStream(conf("warm")), warmCkpt,
      evict = false, trigger = Trigger.AvailableNow()) {
      (ds, _) => ds.toDF().select("id", "updated").collect(); ()
    }.awaitTermination()
    PageAggregates.topK(TrendCollection.stateSnapshot(spark, warmCkpt),
      "edits", k).collect()
    new java.io.FileOutputStream(log).close()
    val sinkLog = mutable.ArrayBuffer[Map[String, Any]]()
    val q: StreamingQuery = span("TrendCollection.streaming (live)", "streaming") {
      TrendCollection.streaming(captureStream(log), ckpt) { (ds, id) =>
        span("sink", "streaming") {
          val rows = ds.toDF().select("id", "updated").collect()
          val at = Tracer.nowUs()
          sinkLog.synchronized {
            sinkLog += Map("batch" -> id, "sink_us" -> at,
              "rows" -> rows.map(r => Seq(r.getString(0),
                micros(r.getTimestamp(1)))).toSeq)
          }
        }
      }
    }
    val t0Us = Tracer.nowUs() + conf("lead_ms").toLong * 1000L
    val ready = new java.io.PrintWriter(conf("ready") + ".tmp", "UTF-8")
    try ready.print(t0Us.toString) finally ready.close()
    new java.io.File(conf("ready") + ".tmp").renameTo(new java.io.File(conf("ready")))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pollMs = mutable.ArrayBuffer[Double]()
    val warmEndUs = t0Us + (warmS * 1e6).toLong
    val reader = new Thread(() => {
      // The state store source needs a committed version to read.
      while (!stop.get() && !q.recentProgress.exists(_.numInputRows > 0))
        Thread.sleep(10)
      while (!stop.get()) {
        val p0 = System.nanoTime(); val at = Tracer.nowUs()
        ops("snapshot_poll") {
          span("stateSnapshot top-k (reader)", "api") {
            PageAggregates.topK(TrendCollection.stateSnapshot(spark, ckpt),
              "edits", k).collect()
          }
        }
        if (at >= warmEndUs) pollMs.synchronized { pollMs += ms(p0) }
      }
    }, "bench-reader")
    reader.setDaemon(true)
    reader.start()
    // Timed phase: from the end of warm-up to the end of the idle phase
    // and the commit of every generated line.
    val endUs = t0Us + ((feedS + idleS) * 1e6).toLong
    while (Tracer.nowUs() < warmEndUs) Thread.sleep(5)
    val cpu0 = cpuNanos(); val w0 = System.nanoTime()
    while (Tracer.nowUs() < endUs ||
        Option(q.lastProgress).forall(p => offsetOf(p.sources(0).endOffset) < total)) {
      if (q.exception.isDefined) throw q.exception.get
      if (Tracer.nowUs() > endUs + 60000000L)
        throw new IllegalStateException("live: the stream did not commit every line")
      Thread.sleep(20)
    }
    out("timed_s") = (System.nanoTime() - w0) / 1e9
    out("timed_cpu_s") = (cpuNanos() - cpu0) / 1e9
    out("rounds") = 1
    phases += (("timed", warmEndUs, Tracer.nowUs()))
    stop.set(true)
    reader.join()
    q.stop()
    val progress = q.recentProgress
    ops.add("micro_batches", progress.length, 0)
    out("t0_us") = t0Us
    out("progress") = progress.toSeq.map { p =>
      Map("batch" -> p.batchId,
        "start" -> offsetOf(p.sources(0).startOffset),
        "end" -> offsetOf(p.sources(0).endOffset),
        "rows" -> p.numInputRows,
        "ts_us" -> java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L,
        "trigger_ms" -> p.durationMs.get("triggerExecution").longValue)
    }
    out("sinks") = sinkLog.toSeq
    out("poll_ms") = pollMs.toSeq
    out("state") = TrendCollection.stateSnapshot(spark, ckpt).collect()
      .toSeq.map(stateJson)
  }

  // -------------------------------------------------------- dedup_ingest

  /** Ingest batches screened against and absorbed into both persisted
    * dedup indexes. Keys: base, batches (directory of batch-<n>.jsonl),
    * nbatches, warm (warm-up batch file), per_round, setup_reps.
    */
  def dedupIngest(): Unit = {
    val schema = "doc_id LONG, text STRING"
    def docs(path: String) = spark.read.schema(schema).json(path)
    val base = docs(conf("base"))
    val perRound = conf("per_round").toInt
    val nBatches = conf("nbatches").toInt
    val reps = conf("setup_reps").toInt
    val buckets = conf("buckets").toInt
    // Set-up, repeated: every repetition builds both indexes from the
    // base set in its own directory. The first serves the timed phase,
    // the second the warm-up.
    val setupS = (0 until reps).map { i =>
      val t0 = System.nanoTime()
      span("buildIndex", "operators")(
        ExactDedupIndex.buildIndex(base, s"$work/exact-$i", buckets = buckets))
      span("buildDedupIndex", "operators")(
        DedupIndex.buildDedupIndex(base, s"$work/near-$i", nBuckets = buckets))
      ms(t0) / 1000.0
    }
    out("index_build_s") = setupS
    val batchLog = mutable.ArrayBuffer[Map[String, Any]]()
    val compactMs = mutable.ArrayBuffer[Double]()
    val rescreen = mutable.ArrayBuffer[Map[String, Any]]()

    var lastSurvivors: Option[(String, DataFrame, Int)] = None
    def ingest(path: String, exact: String, near: String, log: Boolean,
        gen: Int): Unit = {
      val batch = docs(path)
      val c0 = System.nanoTime(); val cc0 = cpuNanos()
      val verdicts = ops("serve") {
        span("ExactDedupIndex.indexClean", "operators", "generation" -> gen) {
          ExactDedupIndex.indexClean(spark, exact, batch).collect()
        }
      }.getOrElse(Array.empty[Row])
      val cleanMs = ms(c0); val cleanCpu = cpuMs(cc0)
      val keep = verdicts.filter(_.getAs[Boolean]("keep")).map(_.getAs[Long]("doc_id"))
      val survivors = batch.where(col("doc_id").isin(keep.toSeq: _*))
      val p0 = System.nanoTime(); val pc0 = cpuNanos()
      val pairs = ops("serve") {
        span("DedupIndex.dedupIndexPairs", "operators", "generation" -> gen) {
          DedupIndex.dedupIndexPairs(spark, near, survivors, 0.5).collect()
        }
      }.getOrElse(Array.empty[Row])
      val pairsMs = ms(p0); val pairsCpu = cpuMs(pc0)
      val a0 = System.nanoTime(); val ac0 = cpuNanos()
      ops("append")(span("ExactDedupIndex.appendToIndex", "operators")(
        ExactDedupIndex.appendToIndex(survivors, exact)))
      val exactAppendMs = ms(a0)
      val n0 = System.nanoTime()
      ops("append")(span("DedupIndex.appendToDedupIndex", "operators")(
        DedupIndex.appendToDedupIndex(survivors, near)))
      val nearAppendMs = ms(n0); val absorbCpu = cpuMs(ac0)
      if (log) batchLog += Map("file" -> path, "generation" -> gen,
        "clean_ms" -> cleanMs, "pairs_ms" -> pairsMs,
        "exact_append_ms" -> exactAppendMs, "near_append_ms" -> nearAppendMs,
        "screen_cpu_ms" -> (cleanCpu + pairsCpu), "absorb_cpu_ms" -> absorbCpu,
        "verdicts" -> verdicts.toSeq.map(r => Seq(r.getAs[Long]("doc_id"),
          r.getAs[Boolean]("in_base"), r.getAs[Boolean]("keep"))),
        "pairs" -> pairs.toSeq.map(r => Seq(r.getAs[Long]("doc_a"),
          r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard"))))
      if (log) lastSurvivors = Some((path, survivors, keep.length))
    }

    def compact(exact: String, near: String, log: Boolean): Unit = {
      val t0 = System.nanoTime()
      ops("compaction") {
        span("compaction", "operators") {
          span("ExactDedupIndex.compactIndex", "operators")(
            ExactDedupIndex.compactIndex(spark, exact))
          span("DedupIndex.compactDedupIndex", "operators")(
            DedupIndex.compactDedupIndex(spark, near))
        }
      }
      if (log) compactMs += ms(t0)
    }

    // Warm-up: the dedicated batches and a compaction on the second
    // index pair.
    val warmExact = s"$work/exact-${math.min(1, reps - 1)}"
    val warmNear = s"$work/near-${math.min(1, reps - 1)}"
    conf("warm").split(",").zipWithIndex.foreach { case (f, g) =>
      ingest(f, warmExact, warmNear, log = false, g + 1) }
    compact(warmExact, warmNear, log = false)
    ops.counts.clear()
    val exact = s"$work/exact-0"
    val near = s"$work/near-0"
    var next = 0
    timedRounds(nBatches / perRound) { _ =>
      for (g <- 1 to perRound) {
        ingest(s"${conf("batches")}/batch-$next.jsonl", exact, near, log = true, g)
        next += 1
      }
      // Re-screen the round's last absorbed survivors: all already ingested.
      lastSurvivors.foreach { case (path, surv, n) =>
        val v = ops("serve") {
          span("ExactDedupIndex.indexClean (re-screen)", "operators") {
            ExactDedupIndex.indexClean(spark, exact, surv).collect()
          }
        }.getOrElse(Array.empty[Row])
        rescreen += Map("file" -> path, "survivors" -> n,
          "verdicts" -> v.toSeq.map(r => Seq(r.getAs[Long]("doc_id"),
            r.getAs[Boolean]("in_base"), r.getAs[Boolean]("keep"))))
      }
      compact(exact, near, log = true)
    }
    out("batches") = batchLog.toSeq
    out("compact_ms") = compactMs.toSeq
    out("rescreen") = rescreen.toSeq
  }
}
