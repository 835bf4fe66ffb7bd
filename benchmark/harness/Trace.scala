package benchharness

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans recorded from outside the program: one per public call the
  * benchmark makes (opened by [[Tracer.span]]), one per micro-batch with
  * its progress phases, one per Spark job and stage (from listeners the
  * benchmark attaches). Held in memory, written out at the end.
  *
  * Times are epoch microseconds. Listener times have millisecond
  * resolution; micro-batch phases carry exact durations but only an
  * approximate placement (laid end to end from the trigger start in the
  * engine's execution order), since progress reports no phase start.
  */
final class Span(val id: Long, val name: String, val layer: String,
    val start: Long, var end: Long, val parent: Long) {
  val attrs = mutable.LinkedHashMap[String, Any]()
}

final class StageRec(val id: Int, val job: Int, val start: Long,
    val end: Long, val tasks: Int, val execRunMs: Long, val gcMs: Long,
    val shuffleWrite: Long, val inputBytes: Long, val readsSource: Boolean)

final class JobRec(val id: Int, val start: Long, var end: Long,
    val spanId: Long, val batchId: Long) {
  val stages = mutable.ArrayBuffer[Int]()
}

final class ProgressRec(val batchId: Long, val startUs: Long,
    val durations: Map[String, Long], val inputRows: Long,
    val stateRows: Long, val stateBytes: Long,
    val stateUpdateMs: Long, val stateCommitMs: Long)

object Tracer {
  val SpanProp = "benchharness.span"
  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
}

class Tracer(sc: SparkContext, val runId: String) {
  import Tracer._

  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  val spans = mutable.ArrayBuffer[Span]()
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.LinkedHashMap[Int, StageRec]()
  val progress = mutable.ArrayBuffer[ProgressRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val current = new ThreadLocal[Span]

  /** Run `body` inside a span; jobs it starts on this thread carry the
    * span id as a local property, so they are attributed to it.
    */
  def span[T](name: String, layer: String, attrs: (String, Any)*)(body: => T): T = {
    val parent = current.get()
    val s = new Span(nextId.getAndIncrement(), name, layer, nowUs(), 0L,
      if (parent == null) 0L else parent.id)
    s.attrs ++= attrs
    synchronized { spans += s }
    val prevProp = sc.getLocalProperty(SpanProp)
    current.set(s)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.end = nowUs()
      current.set(parent)
      sc.setLocalProperty(SpanProp, prevProp)
    }
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String) = if (p == null) null else p.getProperty(k)
      val span = Option(prop(SpanProp)).map(_.toLong).getOrElse(0L)
      val batch = Option(prop("streaming.sql.batchId")).map(_.toLong)
        .getOrElse(-1L)
      val j = new JobRec(e.jobId, e.time * 1000L, 0L, span, batch)
      Tracer.this.synchronized {
        jobs(e.jobId) = j
        e.stageIds.foreach { s => stageJob(s) = e.jobId; j.stages += s }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized { jobs.get(e.jobId).foreach(_.end = e.time * 1000L) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val src = si.rddInfos.exists(_.name.contains("DataSourceRDD"))
      Tracer.this.synchronized {
        val rec = new StageRec(si.stageId, stageJob.getOrElse(si.stageId, -1),
          si.submissionTime.getOrElse(0L) * 1000L,
          si.completionTime.getOrElse(0L) * 1000L, si.numTasks,
          if (m == null) 0L else m.executorRunTime,
          if (m == null) 0L else m.jvmGCTime,
          if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
          if (m == null) 0L else m.inputMetrics.bytesRead, src)
        stages(si.stageId) = rec
      }
    }
  }

  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
        .map { case (k, v) => k -> v.longValue }.toMap
      val so = p.stateOperators
      def sum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
        so.map(f).sum
      val rec = new ProgressRec(p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L, d,
        p.numInputRows, sum(_.numRowsTotal), sum(_.memoryUsedBytes),
        sum(_.allUpdatesTimeMs), sum(_.commitTimeMs))
      Tracer.this.synchronized { progress += rec }
    }
  }

  /** Wait until every started job has ended (listener events arrive
    * asynchronously; stage reports precede their job's end).
    */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    def pending = synchronized(jobs.values.exists(_.end == 0L))
    while (pending && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(300)
  }

  /** Micro-batch spans (with phase children) from the progress records;
    * a batch that runs inside a public call's span (a drain) is its child.
    */
  def batchSpans(): Unit = synchronized {
    val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
      "addBatch", "commitOffsets")
    val calls = spans.toList
    progress.foreach { p =>
      val total = p.durations.getOrElse("triggerExecution", 0L) * 1000L
      val parent = calls.find(c => c.parent == 0L && c.start <= p.startUs &&
        p.startUs <= c.end).map(_.id).getOrElse(0L)
      val s = new Span(nextId.getAndIncrement(), s"microbatch ${p.batchId}",
        "streaming", p.startUs, p.startUs + total, parent)
      s.attrs("batchId") = p.batchId
      s.attrs("inputRows") = p.inputRows
      spans += s
      var at = p.startUs
      order.foreach { ph =>
        p.durations.get(ph).foreach { ms =>
          val c = new Span(nextId.getAndIncrement(), ph,
            if (ph == "latestOffset" || ph == "getBatch") "sources"
            else "streaming", at, at + ms * 1000L, s.id)
          spans += c
          at += ms * 1000L
        }
      }
    }
  }

  /** Union length of intervals clipped to [lo, hi). */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    c.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per layer: each span's duration minus the part of it its
    * children cover. Jobs are children of the span (or micro-batch) that
    * started them; stages are children of their job.
    */
  def selfTimes(lo: Long, hi: Long): Map[String, Double] = synchronized {
    def in(start: Long) = start >= lo && start <= hi
    val spans = this.spans.filter(s => in(s.start))
    val jobs = this.jobs.filter(j => in(j._2.start))
    val stages = this.stages.filter(s => in(s._2.start))
    val children = mutable.Map[Long, mutable.ArrayBuffer[(Long, Long)]]()
    def add(parent: Long, iv: (Long, Long)) =
      children.getOrElseUpdate(parent, mutable.ArrayBuffer()) += iv
    spans.foreach(s => if (s.parent != 0L) add(s.parent, (s.start, s.end)))
    val batchSpan = spans.filter(_.attrs.contains("batchId"))
      .map(s => s.attrs("batchId").asInstanceOf[Long] -> s).toMap
    jobs.values.foreach { j =>
      val p = if (j.batchId >= 0) batchSpan.get(j.batchId).map(_.id).getOrElse(0L)
        else j.spanId
      if (p != 0L) add(p, (j.start, j.end))
    }
    val out = mutable.Map[String, Double]().withDefaultValue(0.0)
    spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).toSeq
      out(s.layer) += (s.end - s.start - covered(kids, s.start, s.end)) / 1000.0
    }
    jobs.values.foreach { j =>
      val st = j.stages.flatMap(stages.get).map(x => (x.start, x.end)).toSeq
      out("spark.job") += (j.end - j.start - covered(st, j.start, j.end)) / 1000.0
    }
    stages.values.foreach(s => out("spark.stage") += (s.end - s.start) / 1000.0)
    out.toMap
  }

  def writeSpans(path: String): Unit = synchronized {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println("[")
      var first = true
      def emit(s: String): Unit = { if (!first) w.println(","); first = false; w.print(s) }
      spans.foreach { s =>
        emit(Json.obj("run" -> runId, "id" -> s.id, "name" -> s.name,
          "layer" -> s.layer, "start_us" -> s.start, "end_us" -> s.end,
          "parent" -> s.parent, "attrs" -> s.attrs.toMap))
      }
      val batchSpan = spans.filter(_.attrs.contains("batchId"))
        .map(s => s.attrs("batchId").asInstanceOf[Long] -> s.id).toMap
      jobs.values.foreach { j =>
        val p = if (j.batchId >= 0) batchSpan.getOrElse(j.batchId, 0L) else j.spanId
        emit(Json.obj("run" -> runId, "id" -> s"job-${j.id}", "name" -> s"job ${j.id}",
          "layer" -> "spark.job", "start_us" -> j.start, "end_us" -> j.end,
          "parent" -> p))
      }
      stages.values.foreach { s =>
        emit(Json.obj("run" -> runId, "id" -> s"stage-${s.id}",
          "name" -> s"stage ${s.id}", "layer" -> "spark.stage",
          "start_us" -> s.start, "end_us" -> s.end, "parent" -> s"job-${s.job}",
          "attrs" -> Map("tasks" -> s.tasks, "executor_run_ms" -> s.execRunMs,
            "shuffle_write_bytes" -> s.shuffleWrite,
            "reads_source" -> s.readsSource)))
      }
      w.println()
      w.println("]")
    } finally w.close()
  }
}

/** Minimal JSON rendering for the harness's result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def render(v: Any): String = v match {
    case null => "null"
    case None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case r: Raw => r.json
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => a.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String = render(scala.collection.immutable.ListMap(kv: _*))
  final case class Raw(json: String)
}
