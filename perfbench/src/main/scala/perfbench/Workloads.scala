package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.etl.{ManifestTable, OpinionPipeline}
import graft.expressions.ExprKernels
import graft.operators.{CorpusPipeline, Dedup}
import graft.sources.CsvSources
import graft.streaming.CdcApply

/** Shared state of one benchmark run. */
final class Ctx(val tracer: Tracer, val seed: Long, val work: File) {
  var spark: SparkSession = _
  val heap = new HeapWatch
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  val osBean: com.sun.management.OperatingSystemMXBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = osBean.getProcessCpuTime / 1e9
  def fresh(name: String): File = { val d = new File(work, name); Util.rm(d); d }
}

/** What one run measured. Latencies in ms; `layers` holds the per-layer
  * metrics (traced runs only). */
final class RunResult {
  val setupRepsS = mutable.ArrayBuffer[Double]()
  val opMs = mutable.ArrayBuffer[Double]()       // batches: one unit of write work each
  val lookupMs = mutable.ArrayBuffer[Double]()   // reads of the written output
  var ops = 0L
  var rows = 0L                                  // input rows completed in the timed region
  var timedS = 0.0                               // timed-region wall, checks excluded
  var cpuS = 0.0                                 // process CPU over the same region
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  val writeAmp = mutable.ArrayBuffer[Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val notes = mutable.LinkedHashMap[String, String]()

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
  }
}

object Util {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete()
  }
  def timeMs[T](body: => T): (T, Double) = {
    val t = System.nanoTime(); val r = body; (r, (System.nanoTime() - t) / 1e6)
  }
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
  def percentile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  /** The tail level reported as "p90": the 90th percentile with at least
    * 100 samples, else the 75th with at least 40 (ten samples beyond it),
    * else the median. Coarse steps keep the level the same from run to run. */
  def tailLevel(n: Int): Double =
    if (n >= 100) 0.9 else if (n >= 40) 0.75 else 0.5
}

/** Driver heap retained after full collections at the end of a timed
  * region. The pauses between the collections let Spark's cleaner release
  * the blocks of unreferenced checkpoints, and the figure is the
  * collector's own after-collection usage, which concurrent allocation
  * cannot inflate. */
final class HeapWatch {
  var peakMb = 0.0
  def sample(): Unit = {
    System.gc(); Thread.sleep(400); System.gc(); Thread.sleep(400); System.gc()
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val last = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case b: com.sun.management.GarbageCollectorMXBean if b.getLastGcInfo != null => b.getLastGcInfo }
      .maxBy(_.getEndTime)
    val used = last.getMemoryUsageAfterGc.asScala.collect { case (k, v) if heapPools(k) => v.getUsed }.sum
    peakMb = math.max(peakMb, used / 1048576.0)
  }
}

/** A closed-loop workload: set-up reps, then operations until the time is up. */
abstract class Workload(val ctx: Ctx) {
  def name: String
  /** Write the seeded inputs; returns a description of sizes and planted truth. */
  def generate(): Seq[(String, Any)]
  /** One set-up repetition on a fresh session: the workload's bootstrap. */
  def setupRep(rep: Int): Unit
  /** Warm-up after the last set-up repetition, once (part of set-up time). */
  def warmUp(): Unit = ()
  /** Run operations until `until` (System.nanoTime); record into r. */
  def timedLoop(r: RunResult, until: Long): Unit
  /** Per-layer metrics of the traced half; called after the loop. */
  def layerMetrics(r: RunResult, tracedOps: Int): Unit
  /** Single-threaded kernel timing inputs: the workload's own text. */
  def texts(): Array[String]
  /** Path prefixes of the tables whose metadata calls are counted. */
  def tableRoots: Seq[String] = Nil
  def selfTestCorruption(r: RunResult): Unit
  def stop(): Unit = ()
  /** The percentile reported as `lookup_p90_ms`: fixed per workload, so a
    * run that reads less on a slow host does not switch levels. The batch
    * jobs read 24 or 16 times per run, fewer than the 40 samples a 75th
    * percentile needs to have ten beyond it. */
  def lookupTailLevel: Double = 0.5

  protected def spark: SparkSession = ctx.spark
  protected def span[T](n: String)(b: => T): T = ctx.span(n)(b)

  /** Spark scheduling per operation: the jobs of the `op` spans, or of the
    * job groups `groups` selects when the work runs on another thread. */
  def driverMetrics(r: RunResult, groups: Option[String => Boolean], ops: Int): Unit = {
    val tr = ctx.tracer
    val opSpans = tr.spansNamed("op")
    val t = groups.map(tr.groupTotals).getOrElse(tr.totalsUnder("op"))
    val n = math.max(1, ops).toDouble
    r.layers("driver.jobs") = t.jobs / n
    r.layers("driver.stages") = t.stages / n
    r.layers("driver.tasks") = t.tasks / n
    r.layers("driver.plan_ms") = tr.planMs.get / 1000.0 / n
    r.layers("driver.serial_ms") = opSpans.map(s => tr.idleMs(s.startMs, s.endMs)).sum / n
    r.layers("driver.gc_ms") = opSpans.map(_.counters.getOrElse("gc_ms", 0.0)).sum / n
  }

  def kernelMetrics(r: RunResult): Unit = {
    val docs = texts()
    val seeds = Array.tabulate(32)(i => 0x5DEECE66DL * (i + 1) + 11)
    def nsRow(f: String => Any): Double = {
      val passes = (1 to 3).map { _ =>
        val t = System.nanoTime(); var i = 0
        while (i < docs.length) { f(docs(i)); i += 1 }
        (System.nanoTime() - t).toDouble / docs.length
      }
      Util.median(passes)
    }
    r.layers("expressions.normalize_ns_row") = nsRow(ExprKernels.normalizeText(_, 1))
    r.layers("expressions.shingle_ns_row") = nsRow(ExprKernels.shingles(_, 3, true))
    r.layers("expressions.minhash_ns_row") = nsRow(ExprKernels.minhashSig(_, 3, seeds))
    r.layers("expressions.topgram_ns_row") = nsRow(ExprKernels.topGramStats(_, 2))
    r.notes("expressions.docs") = docs.length.toString
  }

  /** Manifest-call spans: mean wall per call with no task running. */
  def manifestDriverMs(): Double = {
    val tr = ctx.tracer
    val ms = tr.spansNamed("manifest.")
    if (ms.isEmpty) 0.0 else ms.map(s => tr.idleMs(s.startMs, s.endMs)).sum / ms.size
  }

  def fsCounters(r: RunResult, before: (Long, Long, Long), ops: Int): Unit = {
    val (a, b, c) = CountingLocalFileSystem.snapshot()
    val n = math.max(1, ops).toDouble
    r.layers("manifest.fs_reads") = (a - before._1) / n
    r.layers("manifest.fs_writes") = (b - before._2) / n
    r.layers("manifest.fs_lists") = (c - before._3) / n
  }

  /** One traced pass of the raw-input reader into a no-op sink. */
  def scanMetrics(r: RunResult, read: () => Seq[DataFrame], quarantined: Long): Unit = {
    span("sources.scan") { read().foreach(_.write.format("noop").mode("overwrite").save()) }
    val t = ctx.tracer.totalsUnder("sources.scan")
    r.layers("sources.input_mb") = t.inputBytes / 1048576.0
    r.layers("sources.input_rows") = t.inputRecords.toDouble
    r.layers("sources.scan_task_ms") = t.runMs
    r.layers("sources.quarantined_rows") = quarantined.toDouble
  }

  /** Zero the metrics of layers this workload does not run. */
  def absent(r: RunResult, names: String*): Unit = names.foreach(n => r.layers(n) = 0.0)
}

// ---------------------------------------------------------------- ETL star

final class EtlStarLoad(ctx: Ctx) extends Workload(ctx) {
  val name = "etl_star_load"
  val sizes = Gen.StarSizes(clients = 20000, products = 2000, facts = 20000)
  private var truth: Gen.StarTruth = _
  private val input = new File(ctx.work, "input")
  override def tableRoots: Seq[String] = Seq(new File(ctx.work, "star-").getAbsolutePath)
  private val keys = Map("comentarios" -> "IdComment", "encuestas" -> "IdOpinion", "webreviews" -> "IdReview")

  def generate(): Seq[(String, Any)] = {
    truth = Gen.star(input, ctx.seed, sizes)
    Seq("input_rows" -> truth.inputRows, "input_bytes" -> truth.inputBytes,
      "expected_rows" -> truth.counts, "quarantined" -> truth.quarantined, "planted" -> truth.planted)
  }

  private def readSources(dir: File): Map[String, DataFrame] =
    CsvSources.readAll(spark, dir.getPath).map { case (k, v) => k -> v.drop("_corrupt") }

  private def transformed(dir: File): OpinionPipeline.Out = {
    val s = span("sources.readAll") { readSources(dir) }
    val out = span("etl.transform") {
      OpinionPipeline.transform(spark, s("clients"), s("products"), s("fuente_datos"),
        s("social_comments"), s("surveys"), s("web_reviews"))
    }
    span("etl.conformFacts") { OpinionPipeline.conformFacts(out) }
  }

  /** Load into a fresh root, then re-load the same extract (must append 0 rows). */
  private def loadAndReload(dir: File, root: String): Long = {
    span("etl.load") {
      val out = transformed(dir)
      span("etl.runChecked") { OpinionPipeline.runChecked(spark, out, root) }
    }
    span("etl.reload") {
      val again = transformed(dir)
      val facts = Map("comentarios" -> again.comentarios, "encuestas" -> again.encuestas,
        "webreviews" -> again.webReviews)
      facts.toSeq.map { case (t, df) =>
        span("manifest.appendNew") {
          ManifestTable.appendNew(spark, root, t, df.withColumn("anio", year(col("Fecha"))),
            Seq(keys(t)), statsCol = Some("anio"))
        }
      }.sum
    }
  }

  /** Row counts, fact id sums, and the idempotent re-load. */
  private def checkStar(r: RunResult, root: String, t: Gen.StarTruth, reloaded: Long,
                        drop: Option[String] = None): Unit = {
    r.check(reloaded == 0L, s"re-load appended $reloaded rows")
    t.counts.foreach { case (table, want) =>
      val df0 = ManifestTable.read(spark, root, table)
      // `drop` removes one row: the self-test's corrupted output
      val df = drop.filter(_ == table).map(_ => df0.limit(math.max(0, want.toInt - 1))).getOrElse(df0)
      if (keys.contains(table)) {
        val idNum = keys(table) match {
          case "IdOpinion" => col("IdOpinion").cast("long")
          case k => regexp_extract(col(k), "[0-9]+", 0).cast("long")
        }
        val row = df.agg(count(lit(1)), coalesce(sum(idNum), lit(0L))).head()
        r.check(row.getLong(0) == want && row.getLong(1) == t.idSums(table),
          s"$table: ${row.getLong(0)} rows (want $want), id sum ${row.getLong(1)} (want ${t.idSums(table)})")
      } else {
        val n = df.count()
        r.check(n == want, s"$table: $n rows (want $want)")
      }
    }
  }

  private def lookups(r: RunResult, root: String, t: Gen.StarTruth): Unit =
    for (_ <- 1 to 2; table <- Gen.FactTables; y <- Gen.Years) {
      val (n, ms) = Util.timeMs(span("manifest.readPruned") {
        ManifestTable.readPruned(spark, root, table, "anio", y, y).count()
      })
      r.lookupMs += ms
      r.check(n == t.yearCounts((table, y)), s"$table year $y: $n rows (want ${t.yearCounts((table, y))})")
    }

  /** A batch job pays its warm-up on every run, so set-up is only the
    * session, an empty output root and the analyzed load plan. */
  def setupRep(rep: Int): Unit = {
    val root = ctx.fresh(s"star-boot-$rep")
    require(ManifestTable.current(spark, root.getPath).isEmpty)
    transformed(input)
  }

  private var opIndex = 0
  private var reloadedRows = 0L

  def timedLoop(r: RunResult, until: Long): Unit = {
    val t0 = System.nanoTime(); val c0 = ctx.cpuS
    var checkS = 0.0; var checkCpu = 0.0
    do {
      opIndex += 1
      val root = ctx.fresh(s"star-$opIndex").getPath
      val (reloaded, ms) = Util.timeMs(span("op") { loadAndReload(input, root) })
      reloadedRows += reloaded
      r.opMs += ms; r.ops += 1; r.rows += truth.inputRows
      span("op.lookups") { lookups(r, root, truth) }
      r.writeAmp += Gen.dirBytes(new File(root)).toDouble / truth.inputBytes
      val ((), cms) = Util.timeMs {
        val cc = ctx.cpuS
        span("check") {
          span("manifest.current") { ManifestTable.current(spark, root) }
          checkStar(r, root, truth, reloaded)
          if (ctx.tracer.recording) layout(root)
        }
        Util.rm(new File(root))
        checkCpu += ctx.cpuS - cc
      }
      checkS += cms / 1000
    } while (System.nanoTime() < until)
    r.timedS += (System.nanoTime() - t0) / 1e9 - checkS
    r.cpuS += ctx.cpuS - c0 - checkCpu
    ctx.heap.sample()
  }

  def layerMetrics(r: RunResult, ops: Int): Unit = {
    val tr = ctx.tracer
    val n = math.max(1, ops).toDouble
    driverMetrics(r, None, ops)
    val quarantined = quarantinedRows()
    r.check(quarantined == truth.quarantined, s"quarantined $quarantined rows (want ${truth.quarantined})")
    scanMetrics(r, () => readSources(input).values.toSeq, quarantined)
    val etl = tr.totalsUnder("etl.load", "etl.reload")
    r.layers("etl.load_ms") = Util.median(tr.spansNamed("etl.load").map(_.wallMs))
    r.layers("etl.reload_ms") = Util.median(tr.spansNamed("etl.reload").map(_.wallMs))
    r.layers("etl.reload_rows") = reloadedRows.toDouble
    r.layers("etl.shuffle_mb") = etl.shuffleWriteBytes / 1048576.0 / n
    r.layers("etl.exec_cpu_ms") = etl.cpuMs / n
    r.layers("manifest.resolve_ms") = Util.median(tr.spansNamed("manifest.current").map(_.wallMs))
    r.layers("manifest.driver_ms") = manifestDriverMs()
    r.layers("manifest.files_live") = lastFiles.toDouble
    r.layers("manifest.files_opened_ratio") = openedRatio
    r.layers("manifest.bytes_written_mb") = r.writeAmp.lastOption.getOrElse(0.0) * truth.inputBytes / 1048576.0
    absent(r, "streaming.trigger_ms", "streaming.add_batch_ms", "streaming.batches", "streaming.replay_noops",
      "operators.dedup_ms", "operators.candidate_pairs", "operators.verified_pairs", "operators.pair_yield",
      "operators.shuffle_mb", "operators.spill_mb", "operators.capped_rows")
  }

  private var lastFiles = 0L
  private var openedRatio = 0.0

  /** Live files of the loaded star and the share the year reads open. */
  private def layout(root: String): Unit = {
    lastFiles = ManifestTable.current(spark, root).map(_.entries.size.toLong).getOrElse(0L)
    val st = for (t <- Gen.FactTables; y <- Gen.Years) yield ManifestTable.pruneStats(spark, root, t, y, y)
    openedRatio = st.map(_._1).sum.toDouble / math.max(1L, st.map(_._2).sum)
  }

  private def quarantinedRows(): Long =
    CsvSources.readAll(spark, input.getPath).values.map { df =>
      df.where(col("_corrupt").isNotNull)
        .agg(count(lit(1)), max(length(col(df.columns.head)))).head().getLong(0)
    }.sum

  def texts(): Array[String] =
    scala.io.Source.fromFile(new File(input, "social_comments.csv"), "UTF-8").getLines().drop(1)
      .map(l => l.substring(l.lastIndexOf(',') + 1)).take(20000).toArray

  def selfTestCorruption(r: RunResult): Unit = {
    val small = new File(ctx.work, "selftest-input")
    val smallTruth = Gen.star(small, ctx.seed, Gen.StarSizes(clients = 2000, products = 200, facts = 3000))
    val root = ctx.fresh("selftest-star").getPath
    val reloaded = loadAndReload(small, root)
    val good = new RunResult; checkStar(good, root, smallTruth, reloaded)
    val bad = new RunResult; checkStar(bad, root, smallTruth, reloaded, drop = Some("encuestas"))
    r.check(good.failed == 0, s"star checker rejects a correct load: ${good.failures.mkString("; ")}")
    r.check(bad.failed > 0, "star checker accepts a load with a dropped star row")
    Util.rm(new File(root))
  }
}

// ----------------------------------------------------------- corpus dedup

final class CorpusDedup(ctx: Ctx) extends Workload(ctx) {
  val name = "corpus_dedup"
  val sizes = Gen.CorpusSizes(docs = 40000)
  private var truth: Gen.CorpusTruth = _
  private val input = new File(ctx.work, "input/corpus.jsonl")
  private val small = new File(ctx.work, "selftest-input/corpus.jsonl")
  private val schema = "doc_id LONG, source STRING, text STRING"

  def generate(): Seq[(String, Any)] = {
    truth = Gen.corpus(input, ctx.seed, sizes)
    Seq("input_rows" -> truth.inputRows, "input_bytes" -> truth.inputBytes,
      "expected_survivors" -> truth.survivors.length, "planted" -> truth.planted)
  }

  private def read(f: File): DataFrame = spark.read.schema(schema).json(f.getPath)

  private def pass(f: File, out: String): Unit = {
    val docs = span("sources.read") { read(f) }
    val dd = span("operators.dedupCorpus") { Dedup.dedupCorpus(docs, "text", "doc_id") }
    val prep = span("operators.prepare") {
      CorpusPipeline.prepare(dd, "text", "doc_id", "source", perSourceCap = Int.MaxValue)
    }
    span("operators.write") { prep.write.mode("overwrite").parquet(out) }
  }

  /** Survivor count, id sum and PII scrub against the planted truth.
    * `extra` adds dropped ids back: the self-test's corrupted output. */
  private def checkOut(r: RunResult, out: String, t: Gen.CorpusTruth, extra: Seq[Long] = Nil): Unit = {
    val df0 = spark.read.parquet(out)
    val df = if (extra.isEmpty) df0
      else df0.unionByName(spark.read.schema(schema).json(small.getPath).where(col("doc_id").isin(extra: _*))
        .select(col("doc_id"), col("source"), col("text").as("clean_text")), allowMissingColumns = true)
    val row = df.agg(count(lit(1)), coalesce(sum(col("doc_id")), lit(0L)),
      sum(when(col("clean_text").contains("@"), 1L).otherwise(0L)),
      sum(when(col("clean_text").contains("<EMAIL>"), 1L).otherwise(0L))).head()
    val want = t.survivors.length.toLong
    r.check(row.getLong(0) == want && row.getLong(1) == t.survivors.sum,
      s"survivors: ${row.getLong(0)} (want $want), id sum ${row.getLong(1)} (want ${t.survivors.sum})")
    r.check(row.getLong(2) == 0L && row.getLong(3) == t.emailSurvivors,
      s"PII: ${row.getLong(2)} unscrubbed, ${row.getLong(3)} scrubbed (want 0, ${t.emailSurvivors})")
  }

  /** Point probes of the written corpus: survivors and removed docs. */
  private def lookups(r: RunResult, out: String, t: Gen.CorpusTruth, salt: Int): Unit = {
    val rnd = new java.util.Random(ctx.seed * 31 + salt)
    val keep = t.survivors.toSet
    for (_ <- 1 to 16) {
      val ids = Seq.fill(6)(1L + rnd.nextInt(t.inputRows.toInt))
      val (got, ms) = Util.timeMs(span("read.probe") {
        spark.read.parquet(out).where(col("doc_id").isin(ids: _*)).select("doc_id").collect().map(_.getLong(0)).toSet
      })
      r.lookupMs += ms
      r.check(got == ids.filter(keep).toSet, s"probe ${ids.mkString(",")}: got ${got.mkString(",")}")
    }
  }

  /** A batch job pays its warm-up on every run, so set-up is only the
    * session, an empty output directory and the resolved input schema. */
  def setupRep(rep: Int): Unit = {
    ctx.fresh(s"out-boot-$rep").mkdirs()
    read(input).schema
  }

  private var opIndex = 0

  def timedLoop(r: RunResult, until: Long): Unit = {
    val t0 = System.nanoTime(); val c0 = ctx.cpuS
    var checkS = 0.0; var checkCpu = 0.0
    do {
      opIndex += 1
      val out = ctx.fresh(s"out-$opIndex").getPath
      val ((), ms) = Util.timeMs(span("op") { pass(input, out) })
      r.opMs += ms; r.ops += 1; r.rows += truth.inputRows
      span("op.lookups") { lookups(r, out, truth, opIndex) }
      r.writeAmp += Gen.dirBytes(new File(out)).toDouble / truth.inputBytes
      val ((), cms) = Util.timeMs {
        val cc = ctx.cpuS
        span("check") { checkOut(r, out, truth) }
        Util.rm(new File(out))
        checkCpu += ctx.cpuS - cc
      }
      checkS += cms / 1000
    } while (System.nanoTime() < until)
    r.timedS += (System.nanoTime() - t0) / 1e9 - checkS
    r.cpuS += ctx.cpuS - c0 - checkCpu
    ctx.heap.sample()
  }

  def layerMetrics(r: RunResult, ops: Int): Unit = {
    val tr = ctx.tracer
    val n = math.max(1, ops).toDouble
    driverMetrics(r, None, ops)
    scanMetrics(r, () => Seq(read(input)), 0L)
    val opsT = tr.totalsUnder("op")
    r.layers("operators.dedup_ms") = Util.median(tr.spansNamed("operators.dedupCorpus").map(_.wallMs))
    val (cand, ver) = span("operators.pairs") {
      val docs = read(input)
      (Dedup.minhashPairs(docs, "text", "doc_id", 16, 2, 3, 0.0).count(),
        Dedup.minhashPairs(docs, "text", "doc_id", 16, 2, 3, 0.8).count())
    }
    r.layers("operators.candidate_pairs") = cand.toDouble
    r.layers("operators.verified_pairs") = ver.toDouble
    r.layers("operators.pair_yield") = if (cand == 0) 0.0 else ver.toDouble / cand
    r.layers("operators.shuffle_mb") = opsT.shuffleWriteBytes / 1048576.0 / n
    r.layers("operators.spill_mb") = opsT.spillBytes / 1048576.0 / n
    r.layers("operators.capped_rows") =
      Dedup.bucketStats("graft.dedup.minhash.buckets").map(_.droppedRows.toDouble).getOrElse(0.0)
    absent(r, "etl.load_ms", "etl.reload_ms", "etl.reload_rows", "etl.shuffle_mb", "etl.exec_cpu_ms",
      "manifest.resolve_ms", "manifest.driver_ms", "manifest.fs_reads", "manifest.fs_writes",
      "manifest.fs_lists", "manifest.files_live", "manifest.files_opened_ratio", "manifest.bytes_written_mb",
      "streaming.trigger_ms", "streaming.add_batch_ms", "streaming.batches", "streaming.replay_noops")
  }

  def texts(): Array[String] =
    scala.io.Source.fromFile(input, "UTF-8").getLines().map { l =>
      val i = l.indexOf("\"text\":\"") + 8; l.substring(i, l.length - 2)
    }.take(20000).toArray

  def selfTestCorruption(r: RunResult): Unit = {
    val out = ctx.fresh("selftest-corpus").getPath
    val smallTruth = Gen.corpus(small, ctx.seed, Gen.CorpusSizes(docs = 3000))
    pass(small, out)
    val good = new RunResult; checkOut(good, out, smallTruth)
    val keep = smallTruth.survivors.toSet
    val dup = (1L to smallTruth.inputRows).find(id => !keep(id)).toSeq
    val bad = new RunResult; checkOut(bad, out, smallTruth, extra = dup)
    r.check(good.failed == 0, s"corpus checker rejects a correct pass: ${good.failures.mkString("; ")}")
    r.check(bad.failed > 0, "corpus checker accepts a surviving planted duplicate")
    Util.rm(new File(out))
  }
}

// -------------------------------------------------------------- live CDC

final class TableCdc(ctx: Ctx) extends Workload(ctx) {
  val name = "table_cdc"
  val sizes = Gen.CdcSizes(keys = 20000, batches = 40, batchRows = 1000)
  val table = "opiniones"
  val compactAt = 24
  // 44-62 reads per 10 s run: the 75th percentile has ten or more beyond it
  override def lookupTailLevel: Double = 0.75
  override def tableRoots: Seq[String] = Seq(new File(ctx.work, "table-").getAbsolutePath)
  private var truth: Gen.CdcTruth = _
  private val input = new File(ctx.work, "input")
  private val cdcSchema = "IdOpinion LONG, seq LONG, op STRING, Fecha DATE, IdCliente LONG, " +
    "IdProducto LONG, Puntaje INT, Comentario STRING"
  private val cols = Seq("IdOpinion", "seq", "Fecha", "IdCliente", "IdProducto", "Puntaje", "Comentario")

  def generate(): Seq[(String, Any)] = {
    truth = Gen.cdc(input, ctx.seed, sizes)
    Seq("bootstrap_rows" -> sizes.keys, "batch_rows" -> sizes.batchRows,
      "batches_generated" -> sizes.batches, "cdc_rows" -> truth.inputRows, "planted" -> truth.planted)
  }

  private var root: String = _
  private var ckpt: String = _
  private var inbox: File = _
  private var query: StreamingQuery = _
  @volatile private var fed = 0             // batch files handed to the stream
  @volatile private var published = (0L, 0) // (table version, batches applied) readers may pin
  var replayNoops = 0
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double, Double)]()

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs
        val trig = Option(d.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
        val add = Option(d.get("addBatch")).map(_.doubleValue).getOrElse(0.0)
        val now = ctx.tracer.nowMs
        progress.add((now, trig, add))
        ctx.tracer.addSpan("streaming.trigger", now - trig, now, "batch_id" -> p.batchId.toDouble,
          "add_batch_ms" -> add, "input_rows" -> p.numInputRows.toDouble)
      }
    }
  }
  private var listening = false

  private def startQuery(): StreamingQuery = {
    val stream = spark.readStream.schema(cdcSchema).option("maxFilesPerTrigger", 1).json(inbox.getPath)
    CdcApply.applyStream(stream, root, table, Seq("IdOpinion"), Seq("seq"), "op", ckpt,
      statsCol = Some("Fecha"), bloomCol = Some("IdOpinion"), compactAtFileCount = compactAt).start()
  }

  /** Hand batch file `b` to the stream and wait until it is applied. */
  private def feed(b: Int): Unit = {
    val src = new File(input, f"batches/b-$b%05d.jsonl")
    val tmp = new File(ctx.work, s"staging-$b.jsonl")
    Files.copy(src.toPath, tmp.toPath, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp.toPath, new File(inbox, src.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
    query.processAllAvailable()
  }

  private def version(): Long = ManifestTable.current(spark, root).map(_.version).getOrElse(0L)

  def setupRep(rep: Int): Unit = {
    root = ctx.fresh(s"table-$rep").getPath
    ckpt = ctx.fresh(s"ckpt-$rep").getPath
    inbox = ctx.fresh(s"inbox-$rep"); inbox.mkdirs()
    span("manifest.bootstrap") {
      val boot = spark.read.schema(cdcSchema).json(new File(input, "bootstrap.jsonl").getPath)
        .drop("op").select(cols.map(col): _*)
        .repartitionByRange(8, col("Fecha")).sortWithinPartitions("Fecha")
      ManifestTable.overwrite(spark, root, table, boot, statsCol = Some("Fecha"), bloomCol = Some("IdOpinion"))
    }
    query = span("streaming.start") { startQuery() }
  }

  /** Batches applied after the replay, with the reader running, before the
    * timed region: the first batches of a session run up to twice as slow
    * as later ones while the JIT compiles the write and read paths. */
  val warmBatches = 3
  private val warmResult = new RunResult

  /** The first batch, its replay, then `warmBatches` batches with the reader. */
  override def warmUp(): Unit = {
    feed(1)
    // replay batch 0: drop its checkpoint commit and restart, as after a
    // crash between the table commit and the checkpoint commit
    val v = version()
    query.stop()
    Seq("0", ".0.crc").foreach(n => new File(ckpt, s"commits/$n").delete())
    query = span("streaming.start") { startQuery() }
    query.processAllAvailable()
    if (version() == v) replayNoops += 1
    fed = 1
    published = (version(), 1)
    drive(warmResult, () => fed >= 1 + warmBatches)
  }

  override def stop(): Unit = if (query != null) { query.stop(); query = null }

  private def rowMatches(got: org.apache.spark.sql.Row, want: Gen.Row): Boolean =
    got.getAs[java.sql.Date]("Fecha").toLocalDate.toEpochDay == want.fecha &&
      got.getAs[Long]("IdCliente") == want.cliente && got.getAs[Long]("IdProducto") == want.producto &&
      got.getAs[Int]("Puntaje") == want.puntaje && got.getAs[String]("Comentario") == want.comentario

  /** One point lookup pinned to a published version, or one year range read
    * of the latest version; checked against the truth. `stale` answers
    * from the batch before the pinned one: the self-test's corruption. */
  private def read(r: RunResult, rnd: java.util.Random, i: Long, stale: Boolean = false,
                   dropOne: Boolean = false, probe: Seq[Long] = Nil): Double = {
    if (i % 2 == 0) {
      val (v, b) = published
      val keys = if (probe.nonEmpty) probe else (Seq.fill(5)(1L + rnd.nextInt(truth.maxKey.toInt)) ++
        Seq(truth.hotKeys(rnd.nextInt(truth.hotKeys.length)), truth.maxKey + 1 + rnd.nextInt(1000))).distinct
      val (got, ms) = Util.timeMs(span("manifest.readPrunedIn") {
        ManifestTable.readPrunedIn(spark, root, table, "IdOpinion", keys, Some(v)).collect()
      })
      val answer = if (dropOne) got.drop(1) else got
      val byKey = answer.map(x => x.getAs[Long]("IdOpinion") -> x).toMap
      val wantB = if (stale) b - 1 else b
      val ok = byKey.size == answer.length && keys.forall { k =>
        (truth.at(k, wantB), byKey.get(k)) match {
          case (None, None) => true
          case (Some(w), Some(g)) => rowMatches(g, w)
          case _ => false
        }
      }
      r.check(ok, s"lookup at version $v (batch $b) of ${keys.mkString(",")}")
      ms
    } else {
      val y = 2023 + rnd.nextInt(4)
      val lo = java.time.LocalDate.of(y, 1, 1).toEpochDay; val hi = java.time.LocalDate.of(y, 12, 31).toEpochDay
      val before = published._2
      val (n, ms) = Util.timeMs(span("manifest.readPruned") {
        ManifestTable.readPruned(spark, root, table, "Fecha", lo, hi).count()
      })
      val after = fed
      val ok = (before to after).exists(b => truth.yearCounts(b)(y - 2023) == n)
      r.check(ok, s"year $y read: $n rows, want one of batches $before..$after")
      ms
    }
  }

  private var readerFailure: Throwable = _

  /** Apply batches, one per trigger, while one reader thread reads the
    * table, until `done`; returns the on-disk bytes of the batches fed. */
  private def drive(r: RunResult, done: () => Boolean): Long = {
    var inBytes = 0L
    @volatile var running = true
    val readerResult = new RunResult
    val reader = new Thread(() => {
      val rnd = new java.util.Random(ctx.seed * 17 + fed)
      var i = 0L
      try while (running) { readerResult.lookupMs += read(readerResult, rnd, i); i += 1 }
      catch { case e: Throwable => readerFailure = e }
    }, "perfbench-reader")
    val t0 = System.nanoTime(); val c0 = ctx.cpuS
    reader.start()
    try {
      do {
        require(fed < sizes.batches, "ran out of generated CDC batches")
        fed += 1
        val ((), ms) = Util.timeMs(span("op") { feed(fed) })
        val v = span("manifest.current") { version() }
        published = (v, fed)
        r.opMs += ms; r.ops += 1; r.rows += sizes.batchRows; inBytes += truth.batchBytes(fed)
      } while (!done())
    } finally { running = false; reader.join() }
    r.cpuS += ctx.cpuS - c0
    r.timedS += (System.nanoTime() - t0) / 1e9
    if (readerFailure != null) { r.check(ok = false, s"reader failed: $readerFailure"); readerFailure = null }
    r.lookupMs ++= readerResult.lookupMs
    r.attempted += readerResult.attempted; r.failed += readerResult.failed; r.failures ++= readerResult.failures
    inBytes
  }

  def timedLoop(r: RunResult, until: Long): Unit = {
    if (ctx.tracer.enabled && !listening) { spark.streams.addListener(listener); listening = true }
    // the warm-up's checked reads count as attempts of the run
    r.attempted += warmResult.attempted; r.failed += warmResult.failed; r.failures ++= warmResult.failures
    warmResult.attempted = 0; warmResult.failed = 0; warmResult.failures.clear()
    val bytes0 = Gen.dirBytes(new File(root))
    val inBytes = drive(r, () => System.nanoTime() >= until)
    // the table after the last batch must equal the truth exactly
    val want = truth.yearCounts(fed).sum
    val got = span("check") { ManifestTable.read(spark, root, table).count() }
    r.check(got == want, s"table rows after batch $fed: $got (want $want)")
    ctx.heap.sample()
    r.attempted += r.ops // each applied batch is an attempted operation
    val grown = Gen.dirBytes(new File(root)) - bytes0
    r.writeAmp += grown.toDouble / math.max(1L, inBytes)
    lastGrowthMb = grown / 1048576.0
  }

  private var lastGrowthMb = 0.0

  def layerMetrics(r: RunResult, ops: Int): Unit = {
    val tr = ctx.tracer
    val n = math.max(1, ops).toDouble
    val qid = if (query != null) query.runId.toString else ""
    driverMetrics(r, Some(g => g == qid), ops)
    val files = (0 to fed).map(b => if (b == 0) new File(input, "bootstrap.jsonl")
      else new File(input, f"batches/b-$b%05d.jsonl")).map(_.getPath)
    scanMetrics(r, () => Seq(spark.read.schema(cdcSchema).json(files: _*)), 0L)
    val p = progress.asScala.toSeq.filter(_._1 >= tracedFrom)
    r.layers("streaming.trigger_ms") = Util.median(p.map(_._2))
    r.layers("streaming.add_batch_ms") = Util.median(p.map(_._3))
    r.layers("streaming.batches") = ops.toDouble
    r.layers("streaming.replay_noops") = replayNoops.toDouble
    r.layers("manifest.resolve_ms") = Util.median(tr.spansNamed("manifest.current").map(_.wallMs))
    r.layers("manifest.driver_ms") = manifestDriverMs()
    r.layers("manifest.files_live") =
      ManifestTable.current(spark, root).map(_.entries.count(_.table == table).toDouble).getOrElse(0.0)
    val (v, b) = published
    val rnd = new java.util.Random(ctx.seed)
    val st = (1 to 20).map { _ =>
      val keys = Seq.fill(5)(1L + rnd.nextInt(truth.maxKey.toInt))
      ManifestTable.prunedInStats(spark, root, table, "IdOpinion", keys, Some(v))
    }
    r.layers("manifest.files_opened_ratio") = st.map(_._1).sum.toDouble / math.max(1L, st.map(_._3).sum)
    r.layers("manifest.bytes_written_mb") = lastGrowthMb / n
    absent(r, "etl.load_ms", "etl.reload_ms", "etl.reload_rows", "etl.shuffle_mb", "etl.exec_cpu_ms",
      "operators.dedup_ms", "operators.candidate_pairs", "operators.verified_pairs", "operators.pair_yield",
      "operators.shuffle_mb", "operators.spill_mb", "operators.capped_rows")
    r.notes("cdc.published_batch") = b.toString
  }

  var tracedFrom = 0.0

  def texts(): Array[String] =
    scala.io.Source.fromFile(new File(input, "bootstrap.jsonl"), "UTF-8").getLines().map { l =>
      val i = l.indexOf("\"Comentario\":\"") + 14; l.substring(i, l.length - 2)
    }.take(20000).toArray

  def selfTestCorruption(r: RunResult): Unit = {
    // two more batches so the stale answer differs from the current one
    fed += 1; feed(fed); fed += 1; feed(fed)
    published = (version(), fed)
    val rnd = new java.util.Random(1)
    // keys updated in the last batch and live after it: a stale answer
    // differs from the truth, and a missing one is a dropped live row
    val changed = truth.history.iterator.collect {
      case (k, h) if h.exists(c => c._1 == fed && c._2.isDefined) && h.exists(_._1 < fed) => k
    }.take(40).toSeq
    require(changed.size >= 10, "self-test needs keys updated in the last batch")
    def probe(stale: Boolean, dropOne: Boolean): RunResult = {
      val x = new RunResult
      changed.grouped(4).foreach(ks => read(x, rnd, 0L, stale, dropOne, ks))
      x
    }
    val good = probe(stale = false, dropOne = false)
    r.check(good.failed == 0, s"lookup checker rejects correct answers: ${good.failures.mkString("; ")}")
    r.check(probe(stale = true, dropOne = false).failed > 0, "lookup checker accepts stale answers")
    r.check(probe(stale = false, dropOne = true).failed > 0, "lookup checker accepts a missing answer")
  }
}
