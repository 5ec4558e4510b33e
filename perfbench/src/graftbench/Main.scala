package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** One benchmark run: generate the seed's inputs, set up three times,
  * run timed passes for the given seconds, check every output, and
  * write the summary and result lines (see perfbench/run.py).
  */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "rows_per_s" -> "1/s", "heap_peak_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "readers.scan_s" -> "s", "readers.sink_s" -> "s",
    "heurfuzz.pairs_s" -> "s", "heurfuzz.pairs_rows" -> "count",
    "heurfuzz.pairs_ns_per_pair" -> "ns", "heurfuzz.pairs_parallelism" -> "ratio",
    "heurfuzz.topk_s" -> "s", "heurfuzz.topk_rows" -> "count", "heurfuzz.prune_ratio" -> "ratio",
    "heurfuzz.verify_s" -> "s", "heurfuzz.verify_parallelism" -> "ratio",
    "heurfuzz.matches" -> "count", "heurfuzz.map_ratio" -> "%",
    "fuzz.ns_per_call" -> "ns", "fuzz.accept_ratio" -> "ratio",
    "dedup.near_duplicates_s" -> "s", "dedup.candidate_pairs" -> "count",
    "dedup.resolve_groups_s" -> "s",
    "nndescent.upsert_s" -> "s", "nndescent.upsert_jobs" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_sum_s" -> "s", "spark.parallelism" -> "ratio",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.gc_s" -> "s",
    "trace.overhead_s" -> "s", "trace.glue_s" -> "s",
    "calib.cpu_s" -> "s", "calib.mem_s" -> "s", "calib.disk_s" -> "s")

  val SettleSeconds = 3.0

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Old-generation bytes in use after a full collection. */
  private def liveOldGenMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen"))
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(p.getUsage.getUsed))
      .sum / 1048576.0
  }

  /** Drop what the previous pass cached, as the repo's Bench does. */
  private def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  private def copyDir(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  private def metricsJson(names: Seq[(String, String)], values: Map[String, Double]): String =
    names.map { case (n, u) => s"${jstr(n)}:{\"value\":${jnum(values.getOrElse(n, 0.0))},\"unit\":${jstr(u)}}" }
      .mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val wl = Workload(a("workload"), seed)
    val cores = Runtime.getRuntime.availableProcessors()

    // inputs, from the seed only
    val g0 = System.nanoTime()
    val input = Files.createDirectories(work.resolve("input"))
    wl.generate(input)
    val genS = secondsSince(g0)

    // set-up: session, first-touch artifact builds, one untimed warm-up
    // pass; each set-up gets its own copy of the inputs, so per-input
    // artifacts are built every time
    val nSetups = 3
    var spark: SparkSession = null
    var setups = Vector.empty[Double]
    var warm: Output = null
    var warmPrints = Vector.empty[String]
    for (i <- 1 to nSetups) {
      copyDir(input, work.resolve(s"setup-$i"))
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.local(cores)
      warm = wl.pass(spark, work.resolve(s"setup-$i"), s"setup$i")
      setups :+= secondsSince(t0)
      warmPrints :+= warm.fingerprint
    }
    val dir = work.resolve(s"setup-$nSetups")

    // output checks, outside any timed pass
    val c0 = System.nanoTime()
    val problems = Try(wl.check(spark, dir, warm)) match {
      case Success(ps) => ps ++
        (if (warmPrints.distinct.size > 1) Seq(s"set-up passes disagree: $warmPrints") else Nil)
      case Failure(e) => Seq(s"check threw $e")
    }
    val checkS = secondsSince(c0)
    val reference = warm.fingerprint
    val calib = Calib.triple(spark, work.resolve("tmp"))

    // timed passes
    var walls = Vector.empty[Double]
    var heapMb = 0.0
    var failures = Vector.empty[String]
    def judge(tag: String, out: Try[Output]): Unit = out match {
      case Success(o) if o.fingerprint != reference =>
        failures :+= s"$tag: output fingerprint ${o.fingerprint} != checked $reference"
      case Success(_) if problems.nonEmpty => failures :+= s"$tag: output fails its check"
      case Success(_) =>
      case Failure(e) => failures :+= s"$tag: threw $e"
    }
    // untimed settle passes: the JIT keeps compiling planner and
    // operator code for several passes after set-up
    val s0 = System.nanoTime()
    var settled = 0
    while (settled == 0 || secondsSince(s0) < SettleSeconds) {
      release(spark)
      settled += 1
      judge(s"settle pass $settled", Try(wl.pass(spark, dir, s"settle$settled")))
    }
    val t0 = System.nanoTime()
    while (walls.isEmpty || secondsSince(t0) < seconds) {
      release(spark)
      val p0 = System.nanoTime()
      val out = Try(wl.pass(spark, dir, s"p${walls.size}"))
      walls :+= secondsSince(p0)
      heapMb = math.max(heapMb, liveOldGenMb())
      judge(s"pass ${walls.size}", out)
    }
    val wall = median(walls)
    var attempted = settled + walls.size

    // traced run: scheduler totals of one pass with a listener attached,
    // then the same pass split into its layers
    var layerMetrics = Map.empty[String, Double]
    var spansJson = "[]"
    if (trace) {
      val sc = spark.sparkContext
      val jl = new JobListener
      sc.addSparkListener(jl)
      val tr = new Tracer(sc)
      release(spark)
      val gc0 = gcSeconds()
      val (out, whole) = tr.span("pass", -1, "listener") { _ => Try(wl.pass(spark, dir, "listener")) }
      val gcS = gcSeconds() - gc0
      org.apache.spark.BenchBus.drain(sc)
      judge("listener pass", out)
      val w = jl.total(Seq(whole.id))
      release(spark)
      val traced = Try(wl.traced(spark, dir, tr, jl, "traced"))
      judge("traced pass", traced.map(_.out))
      attempted += 2
      val root = tr.spans.find(s => s.name == "pass" && s.pass == "traced")
      layerMetrics = traced.map(_.metrics).getOrElse(Map.empty) ++ Map(
        "spark.jobs" -> w.jobs.toDouble,
        "spark.stages" -> w.stages.toDouble,
        "spark.tasks" -> w.tasks.toDouble,
        "spark.task_sum_s" -> w.taskNs / 1e9,
        "spark.parallelism" -> w.taskNs / 1e9 / whole.seconds,
        "spark.shuffle_write_mb" -> w.shuffleWrite / 1048576.0,
        "spark.shuffle_read_mb" -> w.shuffleRead / 1048576.0,
        "spark.spill_mb" -> w.spill / 1048576.0,
        "spark.gc_s" -> gcS,
        "trace.overhead_s" -> root.map(_.seconds - wall).getOrElse(0.0),
        "calib.cpu_s" -> calib._1, "calib.mem_s" -> calib._2, "calib.disk_s" -> calib._3)
      spansJson = tr.json(jl, t0)
    }
    spark.stop()

    val failed = failures.size
    val correct = problems.isEmpty && failed == 0
    val endToEnd = Map(
      "setup_s" -> median(setups),
      "wall_s" -> wall,
      "rows_per_s" -> wl.rowsPerPass / wall,
      "heap_peak_mb" -> heapMb)
    val metrics = if (trace) metricsJson(PerLayer, layerMetrics) else metricsJson(EndToEnd, endToEnd)
    val result = s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$metrics}"""
    // the highest percentile with at least ten samples beyond it
    val pct = if (walls.size >= 20) f"p${100.0 * (1 - 10.0 / walls.size)}%.0f" else "none (n<20)"
    val summary = Seq(
      "workload" -> jstr(wl.name), "seed" -> seed.toString, "trace" -> trace.toString,
      "sizes" -> jstr(wl.sizes), "cores" -> cores.toString,
      "wall_s_median" -> jnum(wall), "wall_s_max" -> jnum(walls.max), "wall_n" -> walls.size.toString,
      "wall_highest_percentile" -> jstr(pct),
      "wall_samples_s" -> walls.map(jnum).mkString("[", ",", "]"),
      "setup_samples_s" -> setups.map(jnum).mkString("[", ",", "]"),
      "failed_ratio" -> jnum(failed.toDouble / attempted),
      "calib_cpu_s" -> jnum(calib._1), "calib_mem_s" -> jnum(calib._2), "calib_disk_s" -> jnum(calib._3),
      "generate_s" -> jnum(genS), "check_s" -> jnum(checkS),
      "problems" -> problems.map(jstr).mkString("[", ",", "]"),
      "failures" -> failures.map(jstr).mkString("[", ",", "]"))
      .map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    Files.write(Paths.get(a("record")),
      s"""{"summary":$summary,"result":$result,"per_layer":${metricsJson(PerLayer, layerMetrics)},"spans":$spansJson}\n"""
        .getBytes(UTF_8))
    Files.write(Paths.get(a("result")), s"{\"summary\":$summary}\n$result\n".getBytes(UTF_8))
  }
}

/** Host calibration triple, after the repo's Bench.calibrate* probes but
  * sized to a few tenths of a second each: a CPU-bound hash loop, a
  * memory-bound array fold, and a 64 MiB sequential write with fsync.
  */
object Calib {
  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def triple(spark: SparkSession, scratch: Path): (Double, Double, Double) = {
    val cpu = time(spark.range(0, 30000000L, 1, 32)
      .selectExpr("sum(xxhash64(id) % 1000003)").write.format("noop").mode("overwrite").save())
    val mem = time(spark.range(0, 20000L, 1, 32)
      .selectExpr("aggregate(sequence(0L, 511L), 0L, (a, x) -> a + x + id) AS s")
      .selectExpr("sum(s % 1000003)").write.format("noop").mode("overwrite").save())
    val chunk = java.nio.ByteBuffer.allocate(8 << 20)
    new java.util.Random(42).nextBytes(chunk.array())
    val f = Files.createTempFile(Files.createDirectories(scratch), "calib-disk", ".bin")
    val disk = time {
      val ch = java.nio.channels.FileChannel.open(f, java.nio.file.StandardOpenOption.WRITE)
      try {
        var written = 0L
        while (written < (64L << 20)) { chunk.rewind(); written += ch.write(chunk) }
        ch.force(false)
      } finally ch.close()
    }
    Files.deleteIfExists(f)
    (cpu, mem, disk)
  }
}
