package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.TextFunctions

/** The native expressions must be bit-identical to their
  * built-in-functions specifications (which are what the DuckDB
  * oracles replay). */
class ExpressionsSpec extends SparkSpec {

  import spark.implicits._

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "one", "", "a b a b a b", "x " * 50)

  test("graft_simhash == built-in simHash formulation (16 and 60 bits)") {
    for (bits <- Seq(16, 60)) {
      val rows = texts.toDF("t").select(
        TextFunctions.simHash(TextFunctions.tokens(col("t")), bits).as("native"),
        TextFunctions.simHashBuiltin(TextFunctions.tokens(col("t")), bits)
          .as("builtin"))
        .collect()
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    }
  }

  test("graft_minhash_sigs == min(portableHashHex) per permutation") {
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val arrs = graft.text.MinHashLSH.shingleArrays(docs, "doc_id", "text", 2)
      .filter(size(col("shingles")) > 0)
    val native = arrs.select(col("doc_id"),
        call_function("graft_minhash_sigs", col("shingles"), lit(4)).as("sigs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val spec = arrs.select(col("doc_id"), explode(col("shingles")).as("s"))
      .groupBy("doc_id")
      .agg(min(TextFunctions.portableHashHex(col("s"), "p0")).as("m0"),
        min(TextFunctions.portableHashHex(col("s"), "p1")).as("m1"),
        min(TextFunctions.portableHashHex(col("s"), "p2")).as("m2"),
        min(TextFunctions.portableHashHex(col("s"), "p3")).as("m3"))
      .collect()
      .map(r => r.getLong(0) -> Seq(r.getString(1), r.getString(2),
        r.getString(3), r.getString(4))).toMap
    assert(native == spec)
  }

  test("graft_shingles == array_distinct(wordNgrams) incl. short inputs") {
    for (n <- Seq(2, 3)) {
      val rows = texts.toDF("t").select(
        call_function("graft_shingles", TextFunctions.tokens(col("t")), lit(n))
          .as("native"),
        array_distinct(TextFunctions.wordNgrams(TextFunctions.tokens(col("t")), n))
          .as("builtin"))
        .collect()
      rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    }
  }

  test("graft_shingles on NULL tokens == builtin spec (empty array, not null)") {
    val rows = Seq[Option[String]](None, Some("a b c")).toDF("t").select(
      call_function("graft_shingles",
        when(col("t").isNotNull, TextFunctions.tokens(col("t"))), lit(2))
        .as("native"),
      array_distinct(TextFunctions.wordNgrams(
        when(col("t").isNotNull, TextFunctions.tokens(col("t"))), 2))
        .as("builtin"))
      .collect()
    rows.foreach { r =>
      assert(!r.isNullAt(0) && r.getSeq[String](0) == r.getSeq[String](1))
    }
  }

  test("graft_dot == aggregate/zip_with double left-fold, incl. edge cases") {
    val hof = {
      // The builtin formulation the DuckDB oracles replay.
      (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
        aggregate(
          zip_with(transform(a, x => x.cast("double")),
            transform(b, x => x.cast("double")), (x, y) => x * y),
          lit(0d), (acc, x) => acc + x)
    }
    val data = Seq(
      (Option(Seq(1.5f, -2.25f, 3.125f)), Option(Seq(0.5f, 4f, -1f))),
      (Option(Seq.empty[Float]), Option(Seq.empty[Float])),     // empty -> 0.0
      (Option(Seq(1f, 2f)), Option(Seq(1f))),                   // mismatch -> null
      (None, Option(Seq(1f, 2f))),                              // null array -> null
      (Option((1 to 64).map(i => (math.sin(i) * 0.5).toFloat)),
       Option((1 to 64).map(i => (math.cos(i) * 0.5).toFloat))))
    val rows = data.toDF("a", "b").select(
      call_function("graft_dot", col("a"), col("b")).as("native"),
      hof(col("a"), col("b")).as("builtin")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      // Bit-equality, not approximate: the fold order is identical.
      if (!r.isNullAt(0))
        assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    assert(rows.count(_.isNullAt(0)) == 2)
  }

  test("KnnTopKExpr returns full k when the query id is not a candidate") {
    // Candidates: 3 unit-ish vectors with ids 10,11,12. A query whose
    // self_id is absent must get min(k, n) = 3 neighbours, not k-1.
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val bc = spark.sparkContext.broadcast(CenterSet(Array(
      10L -> Array(1f, 0f), 11L -> Array(0f, 1f), 12L -> Array(0.6f, 0.8f))))
    def q(selfId: Long, k: Int) =
      Seq((Seq(1f, 0f), 1.0, selfId)).toDF("vec", "nrm", "self_id")
        .select(explode(org.apache.spark.sql.graft.Bridge.column(KnnTopKExpr(
          UnresolvedAttribute("vec"), UnresolvedAttribute("nrm"),
          UnresolvedAttribute("self_id"), bc, k))).as("nb"))
        .select(col("nb.n_id")).collect().map(_.getLong(0)).toSeq
    assert(q(99L, 3) == Seq(10L, 12L, 11L), "external query must see all n candidates")
    // Self-kNN still self-excludes: id 10 asking for 3 gets the other 2.
    assert(q(10L, 3) == Seq(12L, 11L))
  }

  test("CenterSet.top: ties keep the smaller id; wrong-dimension centers, " +
      "NaN scores and the skip position never rank") {
    // Ids 7 and 3 tie at the top score; 5 has the wrong dimension; 9 is
    // a zero vector (0/0 score); CenterSet sorts by id: 3, 5, 7, 8, 9.
    val cs = CenterSet(Array(7L -> Array(1f, 0f), 5L -> Array(1f, 0f, 0f),
      3L -> Array(2f, 0f), 8L -> Array(0f, 1f), 9L -> Array(0f, 0f)))
    val v = Array(1f, 0f)
    assert(cs.rank(v, 1.0, 5).toSeq == Seq(3L, 7L, 8L))
    val t = cs.top(v, 1.0, 2, skip = 0)
    assert(t.size == 2 && t.pos.map(cs.ids(_)).toSeq == Seq(7L, 8L) &&
      t.score.toSeq == Seq(1000000d, 0d))
    // A two-level vector whose coarse center owns no group ranks nothing.
    assert(TwoLevelIndex(cs, Map.empty).rank(v, 1.0, 2).isEmpty)
  }

  test("prefixLong and prefixHexBytes agree with conv/substring semantics") {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest("sim:probe".getBytes)
    val hexFull = md5.map(b => f"$b%02x").mkString
    assert(new String(Md5Hashing.prefixHexBytes(md5)) == hexFull.take(15))
    assert(Md5Hashing.prefixLong(md5) == java.lang.Long.parseLong(hexFull.take(15), 16))
  }
}
