package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark driver: one client thread issues one op at a
  * time against a `local[<cores>]` session configured by
  * `GraftSession.configure` with shuffle width = cores.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> [--root <checkout>] [--work <dir>]
  *
  * Prints per-seed digests, then (last line) one JSON object with the
  * correctness verdict and the metrics: the end-to-end ones with
  * `--trace 0`, the per-layer ones with `--trace 1`. */
object Main {
  /** Set-ups per run; `setup_s` takes their median (plus the warm-up). */
  val SetupReps = 3
  /** Percentile reported as `latency_s.tail` (linearly interpolated). */
  val TailPercentile = 0.9
  /** Timed ops the printed output digests cover (<= every minOps). */
  val DigestOps = 2
  /** Wall-clock cap on the timed phase, whatever the op floor asks. */
  val MaxTimedSeconds = 100.0

  val Workloads = Seq("ods_nightly", "art_cohort", "corpus_ingest")

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, root: Path, work: Path, minOps: Option[Int] = None,
      setupReps: Int = SetupReps)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val root = Paths.get(m.getOrElse("root", ".")).toAbsolutePath.normalize
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", root,
      Paths.get(m.getOrElse("work", root.resolve(".bench_build/work").toString)))
  }

  def make(a: Args): Workload = a.workload match {
    case "ods_nightly" => new OdsNightly(a.seed)
    case "art_cohort" => new ArtCohort(a.seed)
    case "corpus_ingest" => new CorpusIngest(a.seed, a.root)
    case w => sys.error(s"unknown workload $w (one of ${Workloads.mkString(", ")})")
  }

  def session(cores: Int, scratch: Path): SparkSession = {
    val s = graft.GraftSession.configure(SparkSession.builder()
        .master(s"local[$cores]").appName("perfbench")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.local.dir", scratch.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString),
      cores.toString).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Percentile by linear interpolation between closest ranks (numpy's
    * default). Over a handful of ops it blends the two slowest instead of
    * reporting the slowest alone, which one stray op would set. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val h = p * (s.length - 1)
    val lo = h.toInt
    s(lo) + (h - lo) * (s(math.min(lo + 1, s.length - 1)) - s(lo))
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private val t00 = System.nanoTime()
  def stamp(what: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - t00) / 1e9}%.2f s $what")

  /** `--workload train` runs every workload's set-up and warm-up op, so
    * the build can record the classes a run loads. */
  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    if (a.workload == "train")
      Workloads.foreach(w => run(a.copy(workload = w, seconds = 0, trace = false,
        minOps = Some(0), setupReps = 1, work = a.work.resolve(w))))
    else run(a)
  }

  def run(a: Args): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(a.work)
    val checks = ArrayBuffer.empty[Check]
    def gate(c: Check): Unit = {
      checks += c
      if (!c.ok) System.err.println(s"[perfbench] FAILED: ${c.what}")
    }
    def attempt(what: String)(body: => Check): Unit =
      gate(try body catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $what threw: $e")
          Check(ok = false, s"$what threw ${e.getClass.getSimpleName}")
      })

    // Set-up: session start, input generation and index build, repeated
    // (each in a fresh session and directory; the last repetition's
    // state feeds the timed phase), then the warm-up ops. setup_s is the
    // median repetition plus the warm-up.
    val setupSecs = ArrayBuffer.empty[Double]
    val setupMetrics = ArrayBuffer.empty[Map[String, Double]]
    var spark: SparkSession = null
    var wl: Workload = null
    for (rep <- 0 until a.setupReps) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        Io.deleteTree(a.work.resolve(s"rep${rep - 1}"))
      }
      val t0 = System.nanoTime()
      val dir = a.work.resolve(s"rep$rep")
      spark = session(cores, dir)
      wl = make(a)
      try wl.setup(spark, dir).foreach(gate)
      catch { case NonFatal(e) => gate(Check(ok = false, s"setup threw $e")) }
      setupSecs += (System.nanoTime() - t0) / 1e9
      setupMetrics += wl.setupMetrics
      stamp(f"set-up ${rep + 1}/${a.setupReps}: ${setupSecs.last}%.3f s")
    }
    val w0 = System.nanoTime()
    for (o <- 0 until wl.warmOps) {
      attempt(s"warm-up op $o") {
        wl.prepare(o)
        wl.runChecked(o, traced = false)(body => body)
      }
      stamp(s"warm-up op $o")
    }
    val warmSecs = (System.nanoTime() - w0) / 1e9
    stamp(f"warm-up: $warmSecs%.3f s")

    // Timed phase.
    val tr = new Tracer(if (a.trace) Some(spark.sparkContext) else None)
    wl.tr = tr
    val lat = ArrayBuffer.empty[Double]
    val latTraced = ArrayBuffer.empty[Double]
    val untracedRoots = ArrayBuffer.empty[Long]
    var rows = 0L
    var op = wl.warmOps
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    val minOps = a.minOps.getOrElse(wl.minOps)
    while ((elapsed < a.seconds || lat.length + latTraced.length < minOps) &&
        elapsed < MaxTimedSeconds) {
      val o = op
      val traced = a.trace && (o - wl.warmOps) % 2 == 1
      attempt(s"op $o") {
        wl.prepare(o)
        tr.beginOp(o)
        wl.runChecked(o, traced) { body =>
          val t0 = System.nanoTime()
          tr.span("op")(body)
          val dt = (System.nanoTime() - t0) / 1e9
          (if (traced) latTraced else lat) += dt
          stamp(f"op $o${if (traced) " (traced)" else ""}: $dt%.3f s")
          if (a.trace && !traced) untracedRoots += tr.recorded.last.id
          rows += wl.inputRows(o)
        }
      }
      op += 1
    }
    val timedOps = op - wl.warmOps
    try wl.finish().foreach(gate)
    catch { case NonFatal(e) => gate(Check(ok = false, s"final checks threw $e")) }

    val attempted = checks.length
    val failed = checks.count(!_.ok)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val all = lat.toSeq
        Seq(
          ("setup_s", median(setupSecs.toSeq) + warmSecs, "s"),
          ("latency_s.p50", if (all.isEmpty) Double.NaN else median(all), "s"),
          ("latency_s.tail", if (all.isEmpty) Double.NaN else percentile(all, TailPercentile), "s"),
          ("throughput_rows_per_s", rows / all.sum, "rows/s"),
          ("ok_ratio", (attempted - failed).toDouble / attempted, "ratio"),
          ("peak_rss_mb", peakRssMb(), "MB"),
          ("stored_bytes_per_row", wl.storedBytesPerRow(), "B/row"))
      } else {
        val spans = tr.recorded
        val ops = spans.filter(_.name == "op")
        val tracedOps = ops.filterNot(s => untracedRoots.contains(s.id))
        val byOp = spans.groupBy(_.op)
        /** Per traced op: sum of a span's seconds / a count; median over ops. */
        def perOp(f: Seq[Span] => Double): Double =
          if (tracedOps.isEmpty) Double.NaN else median(tracedOps.map(o => f(byOp(o.op))))
        def secs(name: String) = perOp(_.filter(_.name == name).map(_.seconds).sum)
        def cnt(name: String, key: String) =
          perOp(_.filter(_.name == name).map(_.counts.getOrElse(key, 0d)).sum)
        def ratio(name: String, num: String, den: String) = perOp { ss =>
          val d = ss.filter(_.name == name).map(_.counts.getOrElse(den, 0d)).sum
          if (d == 0) 0d else ss.filter(_.name == name).map(_.counts.getOrElse(num, 0d)).sum / d
        }
        val sparkPerOp = untracedRoots.toSeq.map(tr.sparkTotals)
        def sparkM(k: String) =
          if (sparkPerOp.isEmpty) Double.NaN else median(sparkPerOp.map(_.getOrElse(k, 0d)))
        val out = Seq(
          ("sources.resolve_s", secs("sources.resolve"), "s"),
          ("sources.files_read", cnt("sources.resolve", "files_read"), "count"),
          ("sources.scan_s", secs("sources.scan"), "s"),
          ("jobs.ct_patient_s", secs("jobs.ct_patient"), "s"),
          ("jobs.ct_visits_s", secs("jobs.ct_visits"), "s"),
          ("etl.transform_s", secs("etl.transform"), "s"),
          ("etl.dedup_keep_ratio", ratio("etl.transform", "kept_rows", "source_rows"), "ratio"),
          ("etl.antijoin_s", secs("etl.antijoin"), "s"),
          ("etl.antijoin_fresh_ratio", ratio("etl.antijoin", "fresh_rows", "source_rows"), "ratio"),
          ("etl.piihash_s", secs("etl.piihash"), "s"),
          ("etl.sink_s", secs("etl.sink"), "s"),
          ("etl.sink_files", cnt("etl.sink", "files"), "count"),
          ("etl.sink_bytes_per_row", ratio("etl.sink", "bytes", "rows"), "B/row"),
          ("cohort.latest_asof_s", secs("cohort.latest_asof"), "s"),
          ("cohort.outcomes_s", secs("cohort.outcomes"), "s"),
          ("cohort.patient_months", cnt("cohort.outcomes", "patient_months"), "count"),
          ("cohort.rows_per_fact", ratio("cohort.outcomes", "patient_months", "fact_rows"), "ratio"),
          ("text.signature_s", secs("text.signature"), "s"),
          ("text.verify_s", secs("text.verify"), "s"),
          ("text.candidate_pairs", cnt("text.verify", "candidate_pairs"), "count"),
          ("text.verified_pairs", cnt("text.verify", "verified_pairs"), "count"),
          ("text.candidate_precision", ratio("text.verify", "verified_pairs", "candidate_pairs"), "ratio"),
          ("sim.assign_s", secs("sim.assign"), "s"),
          ("sim.search_s", secs("sim.search"), "s"),
          ("sim.pairs_scored", cnt("sim.assign", "pairs_scored"), "count"),
          ("sim.pairs_per_query", ratio("sim.assign", "pairs_scored", "queries"), "count"),
          ("sim.index_build_s",
            median(setupMetrics.toSeq.map(_.getOrElse("sim.index_build_s", 0d))), "s"),
          ("trace.overhead_s",
            if (lat.isEmpty || latTraced.isEmpty) Double.NaN
            else median(latTraced.toSeq) - median(lat.toSeq), "s"),
          ("trace.untraced_op_s", if (lat.isEmpty) Double.NaN else median(lat.toSeq), "s"),
          ("trace.traced_op_s", if (latTraced.isEmpty) Double.NaN else median(latTraced.toSeq), "s"))
        val sparkOut = Seq("jobs", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
            "spill_bytes").map(k => (s"spark.$k", sparkM(s"spark.$k"), if (k.endsWith("bytes")) "B" else "count")) ++
          Seq("executor_cpu_s", "gc_s", "scheduler_delay_s").map(k =>
            (s"spark.$k", sparkM(s"spark.$k"), "s"))
        val spansPath = a.root.resolve(".bench_build/traces")
          .resolve(s"${a.workload}-seed${a.seed}.jsonl")
        tr.write(spansPath)
        System.err.println(s"[perfbench] ${spans.length} spans written to $spansPath")
        out ++ sparkOut
      }
    tr.close()

    println(s"digest workload=${a.workload} seed=${a.seed} input=${wl.inputDigest} " +
      s"output=${wl.outputDigest}")
    println(f"ops workload=${a.workload} timed=$timedOps%d warmup=${wl.warmOps}%d " +
      f"checks=${attempted - timedOps - wl.warmOps}%d " +
      f"tail=p${(TailPercentile * 100).round}%d cores=$cores%d")
    metrics.foreach { case (k, v, u) => System.err.println(f"[perfbench] $k%-28s $v%.6g $u") }
    val json = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    Io.deleteTree(a.work.resolve(s"rep${a.setupReps - 1}"))
    println(json)
    System.out.flush()
  }
}
