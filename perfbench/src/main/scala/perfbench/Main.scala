package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Closed-loop pass runner: one client, passes back to back. A pass that
  * throws or returns a wrong answer counts as failed and is never timed. */
object Loop {
  final case class Outcome(attempted: Int, failed: Int, seconds: Vector[Double], errors: Vector[String])

  def run(budgetS: Double, minPasses: Int, maxPasses: Int, firstPass: Int)
         (pass: Int => (() => Unit)): Outcome = {
    val t0 = System.nanoTime()
    var attempted = 0; var failed = 0
    val seconds = Vector.newBuilder[Double]; val errors = Vector.newBuilder[String]
    while (attempted < maxPasses &&
        (attempted < minPasses || (System.nanoTime() - t0) / 1e9 < budgetS)) {
      val p = firstPass + attempted
      attempted += 1
      try {
        val (check, s) = Stats.time(pass(p))
        check()
        seconds += s
      } catch {
        case e: Exception =>
          failed += 1
          errors += s"pass $p: $e"
      }
    }
    Outcome(attempted, failed, seconds.result(), errors.result())
  }
}

object Main {
  val Cores = 4
  val SetupReps = 3

  /** Metrics of the untraced run, as BENCHMARK.json declares them. The
    * cold pass and the resident peak are printed but not gated: one sample
    * per process each, their run-to-run spread (10-20% and 15-35%) is
    * wider than any bound a gate may use. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "points_per_s" -> "1/s")
  /** Metrics of the traced run reported on every workload. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.laz_decode_pts_per_s" -> "1/s", "sources.laz14_decode_pts_per_s" -> "1/s",
    "sources.laz14_xyz_decode_pts_per_s" -> "1/s", "sources.bpf_decode_pts_per_s" -> "1/s",
    "sources.pcd_decode_pts_per_s" -> "1/s", "sources.ply_decode_pts_per_s" -> "1/s",
    "sources.laz_encode_pts_per_s" -> "1/s", "index.cell_encode_per_s" -> "1/s",
    "plans.plan_s" -> "s", "spark.task_busy_s" -> "s", "spark.cpu_util" -> "ratio",
    "spark.gc_s" -> "s", "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
    "trace.overhead_s" -> "s")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val workload = need("workload")
    require(Workloads.Names.contains(workload),
      s"unknown workload '$workload' (expected one of ${Workloads.Names.mkString(", ")})")
    Opts(workload, need("seed").toLong, need("seconds").toInt, trace,
      Paths.get(kv.getOrElse("work", ".perfbench/work")).toAbsolutePath)
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.explainMode", "simple")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "5000000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    Files.readAllLines(status).toArray(Array.empty[String])
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val work = o.work.resolve(s"${o.workload}-${o.seed}-${if (o.trace) 1 else 0}")
    Stats.deleteTree(work)
    Files.createDirectories(work)
    val spark = session(work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val ok = try run(spark, o, work, sessionS) finally {
      spark.stop()
      Stats.deleteTree(work)
    }
    if (!ok) sys.exit(1)
  }

  /** Runs one workload and prints the report; true when every pass was correct. */
  def run(spark: SparkSession, o: Opts, work: Path, sessionS: Double): Boolean = {
    val w = Workloads(o.workload, spark, o.seed)
    val setups = (0 until SetupReps).map { i =>
      val d = work.resolve(s"setup$i")
      val s = Stats.time(w.setup(d))._2
      if (i > 0) Stats.deleteTree(work.resolve(s"setup${i - 1}"))
      s
    }
    val shown = new Metrics // every metric, for the reader
    shown("setup_s", "s") = sessionS + Stats.median(setups)
    shown("setup.session_s", "s") = sessionS
    setups.zipWithIndex.foreach { case (s, i) => shown(s"setup.inputs_s.$i", "s") = s }
    val outcome =
      if (!o.trace) untraced(w, o, shown)
      else traced(spark, w, o, work, shown)
    val gated = if (o.trace) PerLayer else EndToEnd
    val correct = outcome.failed == 0
    println(s"perfbench ${o.workload} seed=${o.seed} trace=${if (o.trace) 1 else 0}: " +
      s"${outcome.attempted} passes, ${outcome.failed} failed, " +
      s"error_rate=${outcome.failed.toDouble / outcome.attempted}")
    outcome.errors.foreach(e => println(s"  FAILED $e"))
    shown.values.foreach { case (n, (v, u)) =>
      println(f"  ${if (gated.exists(_._1 == n)) "*" else " "} $n%-40s $v%.6g $u")
    }
    val metrics = gated.map { case (n, u) =>
      val v = shown.values.get(n).map(_._1).getOrElse(Double.NaN)
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "$u"}"""
    }
    println(s"""{"correct": $correct, "attempted": ${outcome.attempted}, "failed": ${outcome.failed}, """ +
      s""""metrics": {${metrics.mkString(", ")}}}""")
    correct
  }

  private def untraced(w: Workload, o: Opts, m: Metrics): Loop.Outcome = {
    val first = Loop.run(0, 1, 1, 0)(w.pass)
    val settle = Loop.run(0, w.warmupPasses, w.warmupPasses, 1)(w.pass)
    val warm = Loop.run(o.seconds, w.minWarmPasses, 10000, 1 + w.warmupPasses)(w.pass)
    val times = warm.seconds
    first.seconds.headOption.foreach(m("first_pass_s", "s") = _)
    if (times.nonEmpty) {
      val med = Stats.median(times)
      m("pass_s", "s") = med
      times.zipWithIndex.foreach { case (s, i) => m(s"pass_s.$i", "s") = s }
      m("points_per_s", "1/s") = w.pointsPerPass / med
      w.extraMetrics(med, m)
    }
    m("peak_rss_mb", "MB") = peakRssMb()
    val all = Seq(first, settle, warm)
    Loop.Outcome(all.map(_.attempted).sum, all.map(_.failed).sum,
      all.flatMap(_.seconds).toVector, all.flatMap(_.errors).toVector)
  }

  /** Plain passes alternate with span-instrumented ones (listener on);
    * the median difference is the tracing overhead. The workload's own
    * layer breakdown and the Spark-free codec pass follow. */
  private def traced(spark: SparkSession, w: Workload, o: Opts, work: Path, m: Metrics): Loop.Outcome = {
    val t = new Trace(spark.sparkContext, s"${o.workload}-${o.seed}")
    val sc = spark.sparkContext
    val outcomes = mutable.ArrayBuffer(Loop.run(0, 1, 1, 0)(w.pass)) // warm-up, checked
    val plain = mutable.ArrayBuffer.empty[Double]
    val instrumented = mutable.ArrayBuffer.empty[Double]
    val passSpans = mutable.ArrayBuffer.empty[Span]
    val t0 = System.nanoTime()
    var p = 1
    while (plain.size < w.minWarmPasses - 1 || (System.nanoTime() - t0) / 1e9 < o.seconds * 0.5) {
      val a = Loop.run(0, 1, 1, p)(w.pass)
      plain ++= a.seconds
      sc.addSparkListener(t.listener)
      val b = try Loop.run(0, 1, 1, p + 1)(q => t.span("pass")(w.pass(q)))
              finally sc.removeSparkListener(t.listener)
      instrumented ++= b.seconds
      passSpans += t.last("pass")
      outcomes += a += b
      p += 2
    }
    if (plain.nonEmpty && instrumented.nonEmpty)
      m("trace.overhead_s", "s") = Stats.median(instrumented.toSeq) - Stats.median(plain.toSeq)
    val sums = new TaskSums
    passSpans.foreach(s => sums.add(t.tasks(s)))
    val n = passSpans.size.toDouble
    val wall = passSpans.map(_.seconds).sum
    m("spark.task_busy_s", "s") = sums.runS / n
    m("spark.cpu_util", "ratio") = sums.cpuS / (wall * Cores)
    m("spark.gc_s", "s") = sums.gcS / n
    m("spark.shuffle_read_bytes", "B") = sums.shuffleReadBytes / n
    m("spark.shuffle_write_bytes", "B") = sums.shuffleWriteBytes / n
    m("spark.spill_bytes", "B") = sums.spillBytes / n

    sc.addSparkListener(t.listener)
    val layers = Loop.run(0, 1, 1, p)(_ => { t.span(s"${o.workload}.layers")(w.traced(t, m)); () => () })
    sc.removeSparkListener(t.listener)
    outcomes += layers
    m("plans.plan_s", "s") = w.planSeconds
    val codec = Loop.run(0, 1, 1, p + 1)(_ => {
      t.span("codec")(Codec.run(spark, o.seed, work.resolve("codec"), m)); () => ()
    })
    outcomes += codec
    t.write(Paths.get(".perfbench", s"trace-${o.workload}-${o.seed}.json").toAbsolutePath)
    Loop.Outcome(outcomes.map(_.attempted).sum, outcomes.map(_.failed).sum,
      outcomes.flatMap(_.seconds).toVector, outcomes.flatMap(_.errors).toVector)
  }
}
