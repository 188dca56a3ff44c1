package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed operation as the run reports it. */
final case class OpRecord(id: String, round: Int, cls: String, name: String,
    startNs: Long, endNs: Long, error: Option[String]) {
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** A traced interval: `parent` is the enclosing span's id (0 at the top),
  * `op` the operation or set-up group it belongs to.
  */
final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, op: String)

/** Per-job-group task totals, filled by [[GroupListener]]. */
final class GroupAcc {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var deserMs = 0L; var gcMs = 0L
  var inputBytes = 0L; var outputBytes = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var peakExecMem = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_ms" -> runMs, "task_cpu_ms" -> cpuNs / 1e6,
    "deser_ms" -> deserMs, "gc_ms" -> gcMs,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "peak_exec_mem_bytes" -> peakExecMem)
}

/** Attributes Spark jobs, stages and task metrics to the job group the
  * benchmark's thread set before each operation. It reads only listener
  * events; nothing inside the program is instrumented.
  */
final class GroupListener extends SparkListener {
  val groups = new ConcurrentHashMap[String, GroupAcc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def acc(g: String): GroupAcc = groups.computeIfAbsent(g, _ => new GroupAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
    e.stageIds.foreach(stageGroup.put(_, g))
    if (g == "drain") drainJobs.add(e.jobId)
    val a = acc(g)
    a.synchronized { a.jobs += 1 }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = stageGroup.get(e.stageInfo.stageId)
    if (g != null) { val a = acc(g); a.synchronized { a.stages += 1 } }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val a = acc(g)
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.deserMs += m.executorDeserializeTime
        a.gcMs += m.jvmGCTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.outputBytes += m.outputMetrics.bytesWritten
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (drainJobs.contains(e.jobId)) drainLatch.countDown()

  private val drainJobs = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var drainLatch = new CountDownLatch(1)

  /** Run one tiny job and wait until this listener has seen it end:
    * events reach a listener in the order they were posted, so every
    * event of the operations before it has been handled by then.
    */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    drainLatch = new CountDownLatch(1)
    sc.setJobGroup("drain", "listener drain")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    drainLatch.await(30, TimeUnit.SECONDS)
    groups.remove("drain")
  }
}

/** Times operations, keeps spans in memory when tracing, and writes
  * everything out once the run ends.
  *
  * A span is (id, name, start, end, parent, op). Span names are
  * `<phase>:<label>` with phase build (the public call returns a
  * DataFrame), plan (executedPlan forced) or exec (actions); the reducer
  * in trace.py sums self time by phase.
  */
final class Recorder(spark: SparkSession, val trace: Boolean, work: String) {
  private val sc = spark.sparkContext
  val listener: Option[GroupListener] =
    if (trace) { val l = new GroupListener; sc.addSparkListener(l); Some(l) } else None

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var nextSpan = 0

  val ops = ArrayBuffer.empty[OpRecord]
  val setups = ArrayBuffer.empty[Double]
  private val outputs = new StringBuilder
  private var opSeq = 0

  /** A span around `body`; a no-op wrapper when tracing is off. */
  def span[T](name: String)(body: => T): T =
    if (!trace) body
    else {
      val id = { nextSpan += 1; nextSpan }
      val (parent, op) = stack.headOption.getOrElse((0, ""))
      stack = (id, op) :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, t0, System.nanoTime(), parent, op)
        stack = stack.tail
      }
    }

  /** Runs `body` as one job group; traced, also as one `op:` span. */
  private def grouped[T](group: String, name: String)(body: => T): T =
    if (!trace) body
    else {
      sc.setJobGroup(group, name)
      val id = { nextSpan += 1; nextSpan }
      val saved = stack
      stack = (id, group) :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, s"op:$name", t0, System.nanoTime(), 0, group)
        stack = saved
        sc.clearJobGroup()
      }
    }

  /** One set-up repetition; its wall feeds setup_s. */
  def setup[T](rep: Int)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = grouped(s"setup$rep", "setup")(body)
    setups += (System.nanoTime() - t0) / 1e9
    out
  }

  /** Untimed preparation (warm-up, verification reads) under its own
    * job group, so its jobs never count against an operation.
    */
  def aside[T](label: String)(body: => T): T = grouped(s"aside-$label", label)(body)

  /** False during warm-up: operations then run untimed and unrecorded. */
  var recording = true

  /** One timed operation. `body` gets the operation id and returns the
    * step that records its output, which runs after the clock stops. An
    * exception fails the operation, never the run; the checker later
    * fails operations whose output is wrong.
    */
  def op(round: Int, cls: String, name: String)(body: String => (() => Unit)): Unit =
    if (!recording)
      try aside("warmup")(body("warmup"))
      catch { case scala.util.control.NonFatal(_) => () }
    else {
      opSeq += 1
      val id = f"op$opSeq%05d"
      val t0 = System.nanoTime()
      val (err, after) =
        try (None, grouped(id, name)(body(id)))
        catch {
          case scala.util.control.NonFatal(e) =>
            (Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"),
              () => ())
        }
      ops += OpRecord(id, round, cls, name, t0, System.nanoTime(), err)
      aside(s"$id-record")(after())
    }

  /** Output rows of an operation, for the checker. */
  def output(op: String, kind: String, fields: Map[String, Any]): Unit =
    if (recording) {
      outputs.append(Json.write(fields ++ Map("op" -> op, "kind" -> kind)))
      outputs.append('\n')
    }

  private var storage: Map[String, Any] = Map.empty
  private val born = System.nanoTime()
  private val marks = ArrayBuffer.empty[(String, Double)]

  /** Seconds since the recorder started, kept for the run's timeline. */
  def mark(name: String): Unit = marks += name -> (System.nanoTime() - born) / 1e9

  /** Persisted RDDs and their memory, read when the timed window ends. */
  def windowEnd(): Unit = storage = Map(
    "persisted_rdds" -> sc.getPersistentRDDs.size,
    "storage_mem_bytes" -> sc.getRDDStorageInfo.map(_.memSize).sum)

  def finish(workload: String, cores: Int, extra: Map[String, Any]): Unit = {
    listener.foreach(_.drain(spark))
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val cpuNs = osBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    }
    val result = Map(
      "workload" -> workload, "cores" -> cores,
      "setup_s" -> setups.toSeq,
      "ops" -> ops.toSeq.map(o => Map("id" -> o.id, "round" -> o.round,
        "cls" -> o.cls, "name" -> o.name, "wall_ms" -> o.wallMs,
        "start_ns" -> o.startNs, "end_ns" -> o.endNs,
        "error" -> o.error.orNull)),
      "jvm_cpu_s" -> cpuNs / 1e9,
      "storage" -> storage,
      "timeline" -> marks.toSeq.map { case (k, v) => Seq(k, v) },
      "groups" -> listener.map(l => {
        val m = Map.newBuilder[String, Any]
        l.groups.forEach((k, v) => m += k -> v.toMap)
        m.result()
      }).getOrElse(Map.empty)) ++ extra
    write(s"$work/result.json", Json.write(result))
    write(s"$work/outputs.jsonl", outputs.toString)
    if (trace)
      write(s"$work/spans.jsonl", spans.map(s => Json.write(Map(
        "id" -> s.id, "name" -> s.name, "start" -> s.start, "end" -> s.end,
        "parent" -> s.parent, "op" -> s.op))).mkString("\n"))
  }

  private def write(path: String, s: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), s.getBytes("UTF-8"))
}

/** Minimal JSON writer for the run's own records. */
object Json {
  def write(v: Any): String = { val sb = new StringBuilder; put(sb, v); sb.toString }

  private def put(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => put(sb, x)
    case s: String => str(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
    case f: Float => put(sb, f.toDouble)
    case n: java.lang.Number => sb.append(n.toString)
    case t: java.sql.Timestamp => sb.append(t.getTime * 1000L + (t.getNanos / 1000) % 1000)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        str(sb, k.toString); sb.append(':'); put(sb, x)
      }
      sb.append('}')
    case xs: Iterable[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x => if (!first) sb.append(','); first = false; put(sb, x) }
      sb.append(']')
    case a: Array[_] => put(sb, a.toSeq)
    case j: org.json4s.JValue =>
      sb.append(org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(j)))
    case other => str(sb, other.toString)
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}

/** Flat JSON objects: the generator's summaries and small run records. */
object JsonFile {
  def write(path: String, fields: Map[String, Any]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      Json.write(fields).getBytes("UTF-8"))

  def read(path: String): Map[String, Any] = {
    import org.json4s._
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    org.json4s.jackson.JsonMethods.parse(text) match {
      case JObject(fields) => fields.map { case (k, v) => k -> v.values }.toMap
      case other => throw new IllegalArgumentException(s"$path: $other")
    }
  }
}
