package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Local file system that counts the driver-side metadata calls made on
  * registered table roots — the GET/PUT/LIST bill a table format pays per
  * commit and per resolve. Registered as `fs.file.impl` in traced runs
  * only. Calls from task threads (data-file reads and writes) are not
  * metadata and are not counted. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._
  private def hit(p: Path, c: AtomicLong): Unit =
    if (TaskContext.get() == null && p != null) {
      val s = p.toUri.getPath
      if (roots.asScala.exists(r => s.startsWith(r))) c.incrementAndGet()
    }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { hit(f, reads); super.open(f, bufferSize) }
  override def getFileStatus(f: Path): FileStatus = { hit(f, reads); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = { hit(f, lists); super.listStatus(f) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    hit(f, writes); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { hit(dst, writes); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { hit(f, writes); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { hit(f, writes); super.mkdirs(f, permission) }
}

object CountingLocalFileSystem {
  val roots = new ConcurrentLinkedQueue[String]()
  val reads = new AtomicLong
  val writes = new AtomicLong
  val lists = new AtomicLong
  def snapshot(): (Long, Long, Long) = (reads.get, writes.get, lists.get)
}

/** One traced span: a call from the benchmark into one engine layer. */
final case class Span(id: Long, name: String, parent: Long, startMs: Double, endMs: Double,
                      thread: String, counters: mutable.LinkedHashMap[String, Double]) {
  def wallMs: Double = endMs - startMs
}

/** Per-job-group totals collected from task and stage events. */
final class GroupTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var cpuMs = 0.0; var runMs = 0.0
  var shuffleWriteBytes = 0L; var spillBytes = 0L
  var inputBytes = 0L; var inputRecords = 0L
}

/** Spans around the benchmark's calls into the engine, with the Spark work
  * each span triggered: every span tags its thread's jobs with its own job
  * group, and a SparkListener attributes jobs, stages, tasks, executor CPU,
  * shuffle, spill and input to that group. A QueryExecutionListener sums
  * analysis/optimization/planning time, task launch and finish times give
  * the intervals in which no task ran, and JVM beans give GC time.
  *
  * With `enabled = false` every span is a plain call: no job groups, no
  * listeners, nothing recorded. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private var spark: SparkSession = _
  private val t0 = System.nanoTime()
  def nowMs: Double = (System.nanoTime() - t0) / 1e6
  private val nextId = new AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  // job group -> totals; stage -> group
  val groups = new java.util.concurrent.ConcurrentHashMap[String, GroupTotals]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  // (launch, finish) wall ms since t0 of every finished task
  val taskIntervals = new ConcurrentLinkedQueue[(Double, Double)]()
  private val epochAtT0 = System.currentTimeMillis() - (System.nanoTime() - t0) / 1000000L
  val planMs = new AtomicLong(0) // micros, summed over Dataset actions
  @volatile var recording = false

  private def totals(g: String) = groups.computeIfAbsent(g, _ => new GroupTotals)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
      val t = totals(g)
      t.synchronized { t.jobs += 1; t.stages += e.stageIds.size }
      e.stageIds.foreach(s => stageGroup.put(s, g))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording) {
      val info = e.taskInfo
      taskIntervals.add(((info.launchTime - epochAtT0).toDouble, (info.finishTime - epochAtT0).toDouble))
      val g = stageGroup.getOrDefault(e.stageId, "none")
      val m = e.taskMetrics
      val t = totals(g)
      if (m != null) t.synchronized {
        t.tasks += 1
        t.cpuMs += m.executorCpuTime / 1e6
        t.runMs += m.executorRunTime
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.inputBytes += m.inputMetrics.bytesRead
        t.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = if (recording) {
      val ph = qe.tracker.phases
      planMs.addAndGet(Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(p => (p.endTimeMs - p.startTimeMs) * 1000L).sum)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Collect from `s`, the session the measured operations run on. */
  def attach(s: SparkSession): Unit = {
    spark = s
    if (enabled) {
      s.sparkContext.addSparkListener(listener)
      s.listenerManager.register(qel)
    }
  }

  def gcMsNow(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Run `body` as span `name`; its Spark jobs carry the span's job group. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled || !recording) return body
    val id = nextId.getAndIncrement()
    val parent = stack.get.headOption.getOrElse(0L)
    val sc = spark.sparkContext
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(s"$runId/$id", name, interruptOnCancel = false)
    stack.set(id :: stack.get)
    val gc0 = gcMsNow()
    val start = nowMs
    try body
    finally {
      val end = nowMs
      stack.set(stack.get.tail)
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevDesc, interruptOnCancel = false)
      val c = mutable.LinkedHashMap[String, Double]("gc_ms" -> (gcMsNow() - gc0))
      spans.add(Span(id, name, parent, start, end, Thread.currentThread.getName, c))
    }
  }

  /** Record a span whose timing was measured elsewhere (e.g. a streaming
    * trigger reported by a StreamingQueryListener). */
  def addSpan(name: String, startMs: Double, endMs: Double, counters: (String, Double)*): Unit =
    if (enabled && recording) spans.add(Span(nextId.getAndIncrement(), name, 0L, startMs, endMs, "listener",
      mutable.LinkedHashMap(counters: _*)))

  /** Totals of every job group whose id belongs to one of `spanIds` (or,
    * for a group id given verbatim, e.g. a streaming query's run id). */
  def groupTotals(pred: String => Boolean): GroupTotals = {
    val out = new GroupTotals
    groups.asScala.foreach { case (g, t) => if (pred(g)) t.synchronized {
      out.jobs += t.jobs; out.stages += t.stages; out.tasks += t.tasks
      out.cpuMs += t.cpuMs; out.runMs += t.runMs
      out.shuffleWriteBytes += t.shuffleWriteBytes; out.spillBytes += t.spillBytes
      out.inputBytes += t.inputBytes; out.inputRecords += t.inputRecords
    } }
    out
  }

  /** Spans named `name`, or every span under a `layer.` prefix. */
  def spansNamed(name: String): Seq[Span] =
    spans.asScala.toSeq.filter(s => if (name.endsWith(".")) s.name.startsWith(name) else s.name == name)

  def groupOf(s: Span): String = s"$runId/${s.id}"

  /** Job groups of the spans named `names` and all their descendants. */
  def groupsUnder(names: String*): Set[String] = {
    val byParent = spans.asScala.toSeq.groupBy(_.parent)
    def desc(s: Span): Seq[Span] = s +: byParent.getOrElse(s.id, Nil).flatMap(desc)
    names.flatMap(spansNamed).flatMap(desc).map(groupOf).toSet
  }

  def totalsUnder(names: String*): GroupTotals = {
    val ids = groupsUnder(names: _*)
    groupTotals(ids.contains)
  }

  /** Milliseconds of [start, end] during which no task was running. */
  def idleMs(start: Double, end: Double): Double = {
    val iv = taskIntervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0; var curA = -1.0; var curB = -1.0
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, (end - start) - covered)
  }

  def stop(): Unit = if (enabled && spark != null) {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
  }

  /** The spans as JSON lines. */
  def spansJson: Seq[String] = spans.asScala.toSeq.sortBy(_.startMs).map { s =>
    val cs = s.counters.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    val t = groups.get(groupOf(s))
    val spark = if (t == null) "" else t.synchronized {
      s""","jobs":${t.jobs},"stages":${t.stages},"tasks":${t.tasks},"exec_cpu_ms":${Json.num(t.cpuMs)},""" +
        s""""shuffle_write_bytes":${t.shuffleWriteBytes},"spill_bytes":${t.spillBytes},""" +
        s""""input_bytes":${t.inputBytes},"input_records":${t.inputRecords}"""
    }
    s"""{"run_id":${Json.str(runId)},"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      s""""start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)},"thread":${Json.str(s.thread)}""" +
      (if (cs.isEmpty) "" else "," + cs) + spark + "}"
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
