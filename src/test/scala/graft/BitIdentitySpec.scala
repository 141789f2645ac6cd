package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity}

/** Round-7 optimization gate: the fused JVM rewrites of the dedup/knn hot
  * paths must reproduce the ROUND-6 catalyst-expression forms bit for bit.
  * Each test rebuilds the old expression pipeline inline and compares
  * exactly (longs for hashes/keys, raw doubles for cosines) — if a rewrite
  * ever drifts by one ulp or one hash bit, the oracle hashes would move,
  * so this is the first tripwire.
  */
class BitIdentitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$sf/documents.parquet").cache()
  lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet").cache()

  test("JVM shingle strings equal the transform/slice expression form") {
    val expr = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val jvm = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> Dedup.shingleStrings(r.getString(1), 3).toSeq).toMap
    assert(expr.keySet == jvm.keySet)
    expr.foreach { case (id, s) => assert(jvm(id) == s, s"doc $id") }
  }

  test("JVM minhash band keys equal the expression-hashed form") {
    // round-6 first-level hash: xxhash64 over each shingle string
    val exprHashes = docs.select(col("doc_id"),
        transform(Dedup.shingles(col("text"), 3), s => xxhash64(s)).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    import org.apache.spark.sql.catalyst.expressions.{XXH64, XxHash64Function}
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    docs.select(col("doc_id"), col("text")).collect().foreach { r =>
      val jvm = Dedup.shingleStrings(r.getString(1), 3).toSeq
        .map(s => XxHash64Function.hash(UTF8String.fromString(s), StringType, 42L))
      assert(jvm == exprHashes(r.getLong(0)), s"doc ${r.getLong(0)}")
    }
    // and the banded frame stays keyed by those hashes end to end
    val banded = Dedup.minhashBands(docs)
    assert(banded.columns.toSeq == "doc_id" +: (0 until 16).map(b => s"band$b"))
    assert(banded.count() == docs.count())
  }

  /** Round-6 simhash: explode → md5 word hashes → 60 conditional sums. */
  private def exprSimhash(docs: DataFrame): Map[Long, Long] = {
    val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .select(col("doc_id"),
        conv(substring(md5(col("w")), 1, 15), 16, 10).cast("long").as("h"))
    val bitCols = (0 until 60).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"b$i")
    }
    val agg = words.groupBy(col("doc_id")).agg(bitCols.head, bitCols.tail: _*)
    val sigExpr = (0 until 60).map { i =>
      when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    agg.select(col("doc_id"), sigExpr.as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def jvmSimhash(docs: DataFrame): Map[Long, Long] =
    Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("JVM simhash signatures equal the explode/aggregate expression form") {
    assert(jvmSimhash(docs) == exprSimhash(docs))
  }

  private val bands = 8
  private val ppb = 16

  /** Round-6 band keys: one aggregate(zip_with) dot per hyperplane. */
  private def exprBandKeys(emb: DataFrame): Map[Long, Seq[Long]] = {
    val dim = 64
    def bandSketch(b: Int) = (0 until ppb).map { j =>
      val plane = typedlit(Array.tabulate(dim)(c => Dedup.planeCoeff(b * ppb + j, c)))
      val dot = aggregate(zip_with(col("embedding"), plane,
        (x, r) => x.cast("double") * r), lit(0.0), (acc, x) => acc + x)
      when(dot > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    emb.select(col("vec_id") +: (0 until bands).map(b => bandSketch(b).as(s"sk$b")): _*)
      .collect().map(r => r.getLong(0) -> (0 until bands).map(b => r.getLong(1 + b))).toMap
  }

  private def jvmBandKeys(emb: DataFrame): Map[Long, Seq[Long]] =
    Dedup.embeddingBandKeys(emb, bands, ppb)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rows) =>
        id -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
      }

  test("JVM hyperplane band keys equal the aggregate(zip_with) expression form") {
    val old = exprBandKeys(emb)
    val now = jvmBandKeys(emb)
    assert(now.keySet == old.keySet)
    old.foreach { case (id, ks) => assert(now(id) == ks, s"vec $id") }
  }

  test("null text and null embedding rows give the expression forms' output") {
    val s = spark
    import s.implicits._
    val nullDocs = Seq[(Long, String)]((1L, "we collect your email address for ads"),
        (2L, null), (3L, ""), (4L, "we collect your email address for fraud"))
      .toDF("doc_id", "text")
    // shingles (and so minhash keys): the expression form yields [""] for null
    val exprSh = nullDocs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    nullDocs.collect().foreach { r =>
      val id = r.getLong(0)
      assert(Dedup.shingleStrings(r.getString(1), 3).toSeq == exprSh(id), s"doc $id")
    }
    assert(Dedup.minhashBands(nullDocs).count() == 4)
    // jaccard over the pairs that touch the null row
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 4L)).toDF("a", "b")
    val shExpr = nullDocs.select(col("doc_id"),
      array_distinct(Dedup.shingles(col("text"), 3)).as("sh"))
    val oldJac = pairs
      .join(shExpr.select(col("doc_id").as("a"), col("sh").as("sha")), Seq("a"))
      .join(shExpr.select(col("doc_id").as("b"), col("sh").as("shb")), Seq("b"))
      .select(col("a"), col("b"), round(size(array_intersect(col("sha"), col("shb"))) /
        size(array_union(col("sha"), col("shb"))), 4).as("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val nowJac = Dedup.verifyJaccard(pairs, nullDocs, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(nowJac == oldJac)
    // simhash: a null text has no words, so no signature row
    assert(jvmSimhash(nullDocs) == exprSimhash(nullDocs))
    assert(!jvmSimhash(nullDocs).contains(2L))
    // band keys: a null embedding's dots are null, so every key is 0
    val nullEmb = emb.filter(col("vec_id") < 3).select(col("vec_id"), col("embedding"))
      .union(Seq[(Long, Seq[Float])]((-1L, null)).toDF("vec_id", "embedding"))
    assert(jvmBandKeys(nullEmb) == exprBandKeys(nullEmb))
    assert(jvmBandKeys(nullEmb)(-1L) == Seq.fill(bands)(0L))
  }

  test("ivfAssign takes the first NaN cosine as the maximum, as array_max does") {
    val s = spark
    import s.implicits._
    val cells = 4
    def frame(cents: Seq[Seq[Float]]) = (cents.zipWithIndex.map { case (c, i) => (i.toLong, c) } ++
      Seq(10L -> Seq(1f, 1f), 11L -> Seq(1f, 0f), 12L -> Seq(0f, 1f), 13L -> Seq(-1f, 2f)))
      .toDF("vec_id", "embedding")
    def cellsOf(df: DataFrame) = Similarity.ivfAssign(df, cells)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    // a NaN component makes that centroid's cosine NaN for every vector; the
    // expression form ranks it above all numbers and takes the first one
    val nanCents = Seq(Seq(1f, 0f), Seq(Float.NaN, 1f), Seq(0f, 1f), Seq(Float.NaN, 0f))
    val withNaN = frame(nanCents)
    val ds = array(nanCents.map(c => Similarity.cosine(col("embedding"), typedlit(c))): _*)
    val old = withNaN
      .select(col("vec_id"), (array_position(ds, array_max(ds)) - 1).cast("int"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cellsOf(withNaN) == old)
    assert(old.filter(_._1 >= 10).values.toSet == Set(1))
    // a zero-norm centroid's cosine is 0/0 = NaN in the JVM loop, so it wins
    // the same way (the expression form gives null there, which array_max
    // skips, so there is no old value to compare)
    val zeroNorm = frame(Seq(Seq(1f, 0f), Seq(0f, 1f), Seq(0f, 0f), Seq(1f, 1f)))
    assert(cellsOf(zeroNorm).filter(_._1 >= 10).values.toSet == Set(2))
  }

  test("expression cosine over a zero-norm vector collects null, not DIVIDE_BY_ZERO") {
    val s = spark
    import s.implicits._
    val zero = Seq(0f, 0f, 0f)
    val v = Seq(1f, 2f, 3f)
    val got = Seq((zero, v), (v, zero), (zero, zero)).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b"))).collect()
    assert(got.length == 3)
    assert(got.forall(_.isNullAt(0)), got.mkString(", "))
  }

  test("JVM cosine equals the HOF expression cosine to the last bit") {
    val pairs = emb.as("a").join(emb.as("b"),
        col("a.vec_id") + 7 === col("b.vec_id"))
      .select(col("a.vec_id").as("ia"), col("a.embedding").as("ea"),
        col("b.embedding").as("eb"))
    val exprCos = pairs
      .withColumn("c", Similarity.cosine(col("ea"), col("eb")))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    pairs.collect().foreach { r =>
      val a = r.getSeq[Float](1).toArray
      val b = r.getSeq[Float](2).toArray
      // same fold order as the rewritten scoring loop
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i).toDouble * b(i).toDouble; i += 1 }
      i = 0; while (i < a.length) { na += a(i).toDouble * a(i).toDouble; i += 1 }
      i = 0; while (i < b.length) { nb += b(i).toDouble * b(i).toDouble; i += 1 }
      val c = dot / (math.sqrt(na) * math.sqrt(nb))
      assert(java.lang.Double.doubleToLongBits(c) ==
        java.lang.Double.doubleToLongBits(exprCos(r.getLong(0))), s"pair ${r.getLong(0)}")
    }
  }
}
