package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

/** Benchmark driver: one seeded, closed-loop workload per process.
  *
  * {{{
  * Main --workload <etl_star_load|corpus_dedup|table_cdc> --seed N --seconds S --trace 0|1 --work DIR
  * Main --selftest --work DIR
  * }}}
  *
  * Prints every metric as `name value unit` lines, then, as the last
  * line, one JSON object: the end-to-end metrics (`--trace 0`) or the
  * per-layer metrics of a traced run (`--trace 1`). A full record of the
  * run goes to `DIR/result.json`, and the traced run's spans to
  * `DIR/spans.jsonl`. See perfbench/README.md. */
object Main {

  final case class Args(workload: String = "", seed: Long = 1L, seconds: Double = 10.0,
                        trace: Boolean = false, work: String = "", selftest: Boolean = false)

  def parse(a: List[String], acc: Args = Args()): Args = a match {
    case "--workload" :: v :: t => parse(t, acc.copy(workload = v))
    case "--seed" :: v :: t => parse(t, acc.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, acc.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, acc.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, acc.copy(work = v))
    case "--selftest" :: t => parse(t, acc.copy(selftest = true))
    case Nil => acc
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  val Workloads = Seq("etl_star_load", "corpus_dedup", "table_cdc")
  val SetupReps = 3

  def make(name: String, ctx: Ctx): Workload = name match {
    case "etl_star_load" => new EtlStarLoad(ctx)
    case "corpus_dedup" => new CorpusDedup(ctx)
    case "table_cdc" => new TableCdc(ctx)
    case x => throw new IllegalArgumentException(s"unknown workload $x (one of ${Workloads.mkString(", ")})")
  }

  /** Fixed single-thread integer loop: a slow probe beside flat layer
    * counters reads as host contention, not as a regression. */
  def hostProbeMs(): Double = {
    val reps = (1 to 3).map { _ =>
      val t = System.nanoTime()
      var x = 88172645463325252L; var i = 0
      while (i < 15000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42L) println("")
      (System.nanoTime() - t) / 1e6
    }
    Util.median(reps)
  }

  def session(work: File, trace: Boolean): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    var b = graft.Tables.tune(SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath))
    if (trace) b = b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (trace) {
      // drop file systems cached before the counting one was configured
      FileSystem.closeAll()
      val fs = new org.apache.hadoop.fs.Path(work.getAbsolutePath).getFileSystem(s.sparkContext.hadoopConfiguration)
      require(fs.isInstanceOf[CountingLocalFileSystem], s"counting file system not active: ${fs.getClass}")
    }
    s
  }

  def main(argv: Array[String]): Unit = {
    val mainStart = System.currentTimeMillis()
    val a = parse(argv.toList)
    val work = new File(if (a.work.nonEmpty) a.work else "perfbench/out/run").getAbsoluteFile
    Util.rm(work); work.mkdirs()
    if (a.selftest) sys.exit(selfTest(work))
    require(Workloads.contains(a.workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val launch = sys.props.get("perfbench.launchMs").map(_.toLong)
      .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime)

    val probeBefore = hostProbeMs()
    val tracer = new Tracer(a.trace, s"${a.workload}-${a.seed}")
    val ctx = new Ctx(tracer, a.seed, work)
    val w = make(a.workload, ctx)
    val (inputs, genMs) = Util.timeMs(w.generate())
    val r = new RunResult
    // set-up several times, each on a fresh session; the last one is measured
    var spark: SparkSession = null
    for (i <- 0 until SetupReps) {
      if (spark != null) { w.stop(); spark.stop() }
      r.setupRepsS += Util.timeMs {
        spark = session(work, a.trace)
        ctx.spark = spark
        w.setupRep(i)
      }._2 / 1000
    }
    val warmS = Util.timeMs(w.warmUp())._2 / 1000
    val setupS = (mainStart - launch) / 1000.0 + Util.median(r.setupRepsS.toSeq) + warmS
    tracer.attach(spark)
    w.tableRoots.foreach(CountingLocalFileSystem.roots.add)

    // an operation that throws counts as failed; the run still reports
    def loop(x: RunResult, ns: Long): Unit =
      try w.timedLoop(x, System.nanoTime() + ns)
      catch { case e: Exception => x.check(ok = false, s"operation failed: $e") }
    if (!a.trace) {
      loop(r, (a.seconds * 1e9).toLong)
    } else {
      // an untraced half, then a traced half; the tracing overhead is the
      // difference of their median lookup latencies (every workload reads
      // in both halves, while its first, cold operation falls in the first)
      val half = (a.seconds * 5e8).toLong
      val plain = new RunResult
      loop(plain, half)
      r.attempted += plain.attempted; r.failed += plain.failed; r.failures ++= plain.failures
      val fs0 = CountingLocalFileSystem.snapshot()
      w match { case c: TableCdc => c.tracedFrom = tracer.nowMs case _ => }
      tracer.recording = true
      loop(r, half)
      if (w.tableRoots.nonEmpty) w.fsCounters(r, fs0, r.ops.toInt)
      w.layerMetrics(r, r.ops.toInt)
      tracer.recording = false
      w.kernelMetrics(r)
      r.layers("trace.overhead_ms") = Util.median(r.lookupMs.toSeq) - Util.median(plain.lookupMs.toSeq)
      r.notes("untraced_batch_ms") = plain.opMs.map(x => f"$x%.1f").mkString(" ")
    }
    r.notes("batch_ms") = r.opMs.map(x => f"$x%.1f").mkString(" ")
    w.stop()
    tracer.stop()
    val probeAfter = hostProbeMs()
    spark.stop()
    if (r.ops == 0) {
      r.failures.foreach(f => println(s"FAILED: $f"))
      sys.exit(1)
    }

    val ops = r.opMs.toSeq; val looks = r.lookupMs.toSeq
    val opLevel = Util.tailLevel(ops.size); val lookLevel = w.lookupTailLevel
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("rows_per_s", r.rows / r.timedS, "1/s"),
      ("cpu_s", r.cpuS / math.max(1L, r.ops), "s"),
      ("heap_peak_mb", ctx.heap.peakMb, "MB"),
      ("write_amp", Util.median(r.writeAmp.toSeq), "ratio"),
      ("batch_p50_ms", Util.median(ops), "ms"),
      ("batch_p90_ms", Util.percentile(ops, opLevel), "ms"),
      ("lookup_p50_ms", Util.median(looks), "ms"),
      ("lookup_p90_ms", Util.percentile(looks, lookLevel), "ms"))
    val failRatio = r.failed.toDouble / math.max(1L, r.attempted)
    val layerUnits = r.layers.toSeq.map { case (k, v) => (k, v, Units.of(k)) }

    println(s"workload ${a.workload} seed ${a.seed} seconds ${a.seconds} trace ${if (a.trace) 1 else 0}")
    (e2e :+ (("fail_ratio", failRatio, "ratio"))).foreach { case (k, v, u) => println(f"$k%-28s $v%.6f $u") }
    layerUnits.foreach { case (k, v, u) => println(f"$k%-28s $v%.6f $u") }
    println(f"batches ${ops.size}, tail level p${opLevel * 100}%.0f; lookups ${looks.size}, tail level p${lookLevel * 100}%.0f")
    println(f"host_probe_ms before $probeBefore%.1f after $probeAfter%.1f")
    r.failures.foreach(f => println(s"FAILED: $f"))

    val record = new PrintWriter(new File(work, "result.json"), "UTF-8")
    def obj(xs: Seq[(String, Double, String)]) = xs.map { case (k, v, u) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }.mkString("{", ",", "}")
    record.println("{" + Seq(
      s""""workload":${Json.str(a.workload)}""", s""""seed":${a.seed}""", s""""seconds":${a.seconds}""",
      s""""trace":${a.trace}""", s""""nproc":${Runtime.getRuntime.availableProcessors}""",
      s""""inputs":${Json.str(inputs.map { case (k, v) => s"$k=$v" }.mkString("; "))}""",
      s""""generate_ms":${Json.num(genMs)}""", s""""setup_reps_s":${r.setupRepsS.map(Json.num).mkString("[", ",", "]")}""",
      s""""host_probe_ms":{"before":${Json.num(probeBefore)},"after":${Json.num(probeAfter)}}""",
      s""""batches":${ops.size}""", s""""lookups":${looks.size}""",
      s""""end_to_end":${obj(e2e :+ (("fail_ratio", failRatio, "ratio")))}""",
      s""""per_layer":${obj(layerUnits)}""",
      s""""notes":${Json.str(r.notes.map { case (k, v) => s"$k=$v" }.mkString("; "))}""",
      s""""failures":${r.failures.map(Json.str).mkString("[", ",", "]")}""").mkString(",") + "}")
    record.close()
    if (a.trace) {
      val sp = new PrintWriter(new File(work, "spans.jsonl"), "UTF-8")
      tracer.spansJson.foreach(sp.println)
      sp.close()
    }
    val metrics = if (a.trace) layerUnits else e2e
    println(s"""{"correct":${r.failed == 0},"attempted":${r.attempted},"failed":${r.failed},"metrics":${obj(metrics)}}""")
    System.out.flush()
    sys.exit(0)
  }

  /** Generator determinism and checker self-test: each checker must pass a
    * correct output and reject a deliberately corrupted one. */
  def selfTest(work: File): Int = {
    val r = new RunResult
    // same seed -> byte-identical inputs; another seed -> different inputs
    def bytesOf(d: File): Seq[(String, Seq[Byte])] =
      if (d.isFile) Seq(d.getName -> java.nio.file.Files.readAllBytes(d.toPath).toSeq)
      else Option(d.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(bytesOf)
    def gens(seed: Long, tag: String): Seq[Seq[(String, Seq[Byte])]] = {
      val d = new File(work, s"det-$tag")
      Gen.star(new File(d, "star"), seed, Gen.StarSizes(500, 50, 800))
      Gen.corpus(new File(d, "corpus/c.jsonl"), seed, Gen.CorpusSizes(800))
      Gen.cdc(new File(d, "cdc"), seed, Gen.CdcSizes(500, 5, 100))
      Seq("star", "corpus", "cdc").map(x => bytesOf(new File(d, x)))
    }
    val (a1, a2, b) = (gens(7, "a1"), gens(7, "a2"), gens(8, "b"))
    Seq("star", "corpus", "cdc").zipWithIndex.foreach { case (n, i) =>
      r.check(a1(i) == a2(i), s"$n generator: same seed, different bytes")
      r.check(a1(i) != b(i), s"$n generator: different seeds, same bytes")
    }
    val spark = session(work, trace = false)
    for (name <- Workloads) {
      val ctx = new Ctx(new Tracer(false, "selftest"), 11L, new File(work, name))
      ctx.spark = spark
      val w = make(name, ctx)
      w.generate()
      w.setupRep(0)
      w.selfTestCorruption(r)
      w.stop()
      println(s"selftest $name: ${r.attempted} checks so far, ${r.failed} failed")
    }
    spark.stop()
    r.failures.foreach(f => println(s"SELFTEST FAILED: $f"))
    println(if (r.failed == 0) s"selftest PASS (${r.attempted} checks)" else s"selftest FAIL (${r.failed} of ${r.attempted})")
    if (r.failed == 0) 0 else 1
  }
}

object Units {
  def of(name: String): String = name match {
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("_ns_row") => "ns/row"
    case n if n.endsWith("_ratio") || n.endsWith("pair_yield") => "ratio"
    case _ => "count"
  }
}
