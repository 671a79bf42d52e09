package graft

import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** Machine-checks [[Verify]]'s TIMEOUT-SURVIVABILITY contract — the
  * round-17 failure mode where a driver SIGKILL mid-run zeroed the
  * round's evidence (`CORRECTNESS_r17.json` = `{}`) must be
  * structurally impossible. [[Verify]] bootstraps a valid (empty)
  * manifest BEFORE the Spark session is constructed (a kill during
  * JVM/Spark startup leaves `{}`, not nothing), writes
  * `oracle_sql.json` incrementally (atomic temp+rename after EVERY
  * successful dump), prints one progress line per landed dump, orders
  * dumps cheapest-first by the canon minima ([[QueryCosts]]), and
  * merges subset runs over the prior manifest.
  *
  * A kill is simulated in-process via SPARK_GRAFT_VERIFY_ABORT_AFTER
  * (stop dumping after N successes — byte-identical manifest state to
  * a SIGKILL between dump N and N+1, because the manifest write for
  * dump N has already atomically landed).
  *
  * Two source scans guard `src/main`: temp-view names stay unique
  * (concurrent dumps share one session), and no code reads a
  * `graft.*` system property (behaviour switches that exist only for
  * in-process A/B runs). */
class HarnessSpec extends SparkSpec {

  private val om = new ObjectMapper()

  private def readManifest(dir: String): Map[String, String] =
    om.readValue(Paths.get(s"$dir/oracle_sql.json").toFile,
      classOf[java.util.Map[String, String]]).asScala.toMap

  /** Run Verify.main with the given system properties set (Verify reads
    * env first, then props — the prop path exists for this spec), and
    * the shared suite session protected from its stop(). */
  private def withProps[A](props: Map[String, String])(body: => A): A =
    HarnessSpec.propLock.synchronized {
      val all = props + ("SPARK_GRAFT_KEEP_SESSION" -> "1")
      all.foreach { case (k, v) => sys.props(k) = v }
      try body
      finally all.keys.foreach(sys.props.remove)
    }

  // Fixture queries DERIVED from the live QueryCosts table so canon
  // re-pins cannot silently invalidate the spec's assumptions: the
  // three cheapest canon rows (fast at sf0.001); byCost mirrors
  // Verify's exact (cost, name) ordering.
  private val subset = SparkEntry.queries.keySet.toSeq
    .filter(QueryCosts.sf01Min.contains)
    .sortBy(q => (QueryCosts.costOf(q), q)).take(3)
  private val byCost = subset.sortBy(q => (QueryCosts.costOf(q), q))

  test("subset queries are registered and canon-ordered as the spec assumes") {
    subset.foreach { q =>
      assert(SparkEntry.queries.contains(q), s"$q not registered")
      assert(SparkEntry.oracleSql.contains(q), s"$q has no oracle")
      assert(QueryCosts.sf01Min.contains(q), s"$q not in canon")
    }
    assert(subset.size == 3, s"canon lists too few registered queries: $subset")
  }

  test("Verify bootstraps a valid empty manifest before any Spark session exists") {
    val out = Files.createTempDirectory("graft-harness-boot").toString
    // BOOTSTRAP_ONLY returns right after the startup manifest write,
    // BEFORE SparkSession construction — so a manifest here proves the
    // write needs no session: a driver kill during compile/startup
    // leaves `{}` ("started, certified nothing"), never a missing file.
    withProps(Map("SPARK_GRAFT_VERIFY_BOOTSTRAP_ONLY" -> "1")) {
      Verify.main(Array("/root/testdata/sf0.001", out))
    }
    assert(readManifest(out) === Map.empty)
    assert(!Files.exists(Paths.get(s"$out/oracle_sql.json.tmp")))
    // A bootstrapped-then-killed run followed by a real subset run must
    // end with the subset certified (the empty bootstrap merges away).
    withProps(Map(
      "SPARK_GRAFT_VERIFY_QUERIES" -> subset.mkString(","))) {
      Verify.main(Array("/root/testdata/sf0.001", out))
    }
    assert(readManifest(out).keySet === subset.toSet)
  }

  test("Verify prints a bootstrap line and one progress line per landed dump") {
    val out = Files.createTempDirectory("graft-harness-progress").toString
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true)) {
      withProps(Map(
        "SPARK_GRAFT_VERIFY_QUERIES" -> subset.mkString(","),
        "SPARK_GRAFT_VERIFY_PARALLEL" -> "2")) {
        Verify.main(Array("/root/testdata/sf0.001", out))
      }
    }
    val lines = buf.toString.linesIterator.toSeq
    assert(lines.exists(_.startsWith("[verify] manifest bootstrapped")),
      s"no bootstrap line in: $lines")
    subset.foreach { q =>
      assert(lines.exists(l => l.startsWith("[verify] ") && l.contains(s" $q ok")),
        s"no progress line for $q in: $lines")
    }
    assert(lines.exists(_.startsWith(s"[verify] done: ${subset.size}/${subset.size}")))
  }

  test("Verify killed mid-run leaves a valid manifest covering every landed dump") {
    val out = Files.createTempDirectory("graft-harness-verify").toString
    // "Kill" after the first dump: manifest must hold exactly the
    // cheapest query, already selfcheck-consumable.
    withProps(Map(
      "SPARK_GRAFT_VERIFY_QUERIES" -> subset.mkString(","),
      "SPARK_GRAFT_VERIFY_ABORT_AFTER" -> "1")) {
      Verify.main(Array("/root/testdata/sf0.001", out))
    }
    val m1 = readManifest(out)
    assert(m1.keySet === Set(byCost.head))
    assert(m1(byCost.head) === SparkEntry.oracleSql(byCost.head))
    assert(Files.isDirectory(Paths.get(s"$out/${byCost.head}")))
    // No manifest row without a parquet dir, and no leftover temp file.
    assert(!Files.exists(Paths.get(s"$out/oracle_sql.json.tmp")))
    assert(!Files.isDirectory(Paths.get(s"$out/${byCost(1)}")))

    // Second truncated run (abort after 2): re-dumps cheapest-first,
    // merges over the prior manifest — now exactly the two cheapest.
    withProps(Map(
      "SPARK_GRAFT_VERIFY_QUERIES" -> subset.mkString(","),
      "SPARK_GRAFT_VERIFY_ABORT_AFTER" -> "2")) {
      Verify.main(Array("/root/testdata/sf0.001", out))
    }
    assert(readManifest(out).keySet === byCost.take(2).toSet)

    // Full (un-truncated) subset run completes the manifest.
    withProps(Map(
      "SPARK_GRAFT_VERIFY_QUERIES" -> subset.mkString(","))) {
      Verify.main(Array("/root/testdata/sf0.001", out))
    }
    val m3 = readManifest(out)
    assert(m3.keySet === subset.toSet)
    subset.foreach { q =>
      assert(m3(q) === SparkEntry.oracleSql(q))
      assert(Files.isDirectory(Paths.get(s"$out/$q")))
    }
  }

  test("Verify dumps every selected query cheapest-first by canon minima") {
    val out = Files.createTempDirectory("graft-harness-order").toString
    withProps(Map(
      "SPARK_GRAFT_VERIFY_QUERIES" -> subset.mkString(","),
      "SPARK_GRAFT_VERIFY_PARALLEL" -> "1")) { // deterministic completion order
      Verify.main(Array("/root/testdata/sf0.001", out))
    }
    // Dump order is observable through parquet dir mtimes.
    val mtimes = subset.map { q =>
      q -> Files.getLastModifiedTime(Paths.get(s"$out/$q")).toMillis }
    assert(mtimes.sortBy(_._2).map(_._1) === byCost)
  }

  test("Verify with concurrent dumps lands every query and a complete manifest") {
    val out = Files.createTempDirectory("graft-harness-par").toString
    withProps(Map(
      "SPARK_GRAFT_VERIFY_QUERIES" -> subset.mkString(","),
      "SPARK_GRAFT_VERIFY_PARALLEL" -> "3")) {
      Verify.main(Array("/root/testdata/sf0.001", out))
    }
    val m = readManifest(out)
    assert(m.keySet === subset.toSet)
    subset.foreach { q =>
      assert(Files.isDirectory(Paths.get(s"$out/$q")))
      assert(m(q) === SparkEntry.oracleSql(q))
    }
    assert(!Files.exists(Paths.get(s"$out/oracle_sql.json.tmp")))
  }

  test("parallel-dump safety: temp-view names are globally unique in main sources") {
    // Verify runs dumps CONCURRENTLY on one shared session; temp views
    // are session-global, so two queries registering the same view name
    // would race nondeterministically. All current queries use
    // per-query-prefixed literals — this pins that invariant for every
    // future query. (Source scan; dynamic names would need their own
    // uniqueness argument and a doc note here.)
    val re = "createOrReplaceTempView\\(\"([^\"]+)\"\\)".r
    val names = mainSources.flatMap { case (_, src) =>
      re.findAllMatchIn(src).map(_.group(1)) }
    assert(names.nonEmpty, "scan found no temp views — pattern or path drifted")
    val dups = names.groupBy(identity).collect { case (n, vs) if vs.size > 1 => n }
    assert(dups.isEmpty, s"temp-view names registered by more than one site: $dups")
  }

  test("no behaviour switches: main sources read no graft.* system property") {
    // One code path per behaviour: the benchmark compares whole commits,
    // so a -Dgraft.* flag that lets one JVM A/B itself is dead weight
    // and a second, untested form of the engine. Pins that for every
    // future change.
    val re = """(sys\.props|System\.getProperty|getProperties)[^\n"]*"graft\.""".r
    val reads = mainSources.flatMap { case (p, src) =>
      src.linesIterator.zipWithIndex.collect {
        case (l, i) if re.findFirstIn(l).isDefined => s"$p:${i + 1}: ${l.trim}"
      }
    }
    assert(reads.isEmpty, s"graft.* system property reads in src/main:\n${reads.mkString("\n")}")
  }

  /** (path, text) of every Scala/Java file under src/main. */
  private lazy val mainSources: Seq[(String, String)] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"spec expects repo-root cwd, got ${Paths.get("").toAbsolutePath}")
    val it = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
    it.map(p => p.toString -> Files.readString(p)).toSeq
  }
}

object HarnessSpec {
  /** sys.props are JVM-global; suites may run in parallel threads. */
  private val propLock = new Object
}
