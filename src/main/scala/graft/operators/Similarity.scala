package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * Baseline: brute-force cosine top-k — the (small, bounded) query set is
  * collected and broadcast, and one `mapPartitions` pass scores every vector
  * against all queries in primitive JVM loops while folding the per-partition
  * partial top-k (bounded heap). Scale path: IVF — vectors are assigned to
  * their nearest centroid in the same narrow map shape (centroids ride the
  * task closure, the broadcast equivalent for small driver-known data: zero
  * shuffle, zero fan-out), and queries probe only the nearest `nprobe` cells,
  * cutting the scan by ~cells/nprobe.
  *
  * Round-7 note (guide §4): the scoring loops previously ran as catalyst
  * higher-order functions (`aggregate(zip_with(...))` per pair) — those are
  * CodegenFallback, i.e. interpreted per element with boxing, and they
  * recomputed each vector's norm once per pair. The JVM loops below fold in
  * the identical order (left fold from 0.0, `Float.toDouble` products,
  * `dot / (sqrt(na) * sqrt(nb))`), so every cosine double — and therefore
  * every rank — is bit-identical to the expression form the oracle was
  * validated against.
  *
  * Top-k everywhere runs a per-partition partial top-k (bounded heap) before
  * the final window, so the rank shuffle moves ≤ k·queries rows per
  * partition instead of the full candidate set — the piece that keeps the
  * plan alive at 100 TB.
  */
object Similarity {

  /** Codegen-friendly cosine similarity of two float-array columns (kept for
    * bounded verify stages, e.g. the embedding-dedup candidate check). A
    * zero-norm side gives null, not ANSI's DIVIDE_BY_ZERO, so one all-zero
    * embedding cannot fail the job; NaN inputs still give NaN. */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))
    val nb = sqrt(aggregate(transform(b, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))
    try_divide(dot, na * nb)
  }

  /** JVM twin of [[cosine]] with the identical accumulation order — left
    * fold from 0.0 in element order for dot and both norms, then
    * `dot / (na * nb)` — so the result is bit-identical per IEEE-754 for
    * nonzero norms (a zero norm gives NaN here, null there). */
  private def cosineJvm(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0
    var i = 0
    while (i < a.length) { dot += a(i).toDouble * b(i).toDouble; i += 1 }
    var na = 0.0
    i = 0
    while (i < a.length) { na += a(i).toDouble * a(i).toDouble; i += 1 }
    var nb = 0.0
    i = 0
    while (i < b.length) { nb += b(i).toDouble * b(i).toDouble; i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Centroid vectors: the first `cells` vectors (deterministic seed set).
    * A bounded driver-side collect — `cells` rows — standing in for a
    * broadcast variable, so the assignment below stays a narrow map. */
  private def centroidArrays(emb: DataFrame, cells: Int): Array[(Int, Array[Float])] =
    emb.filter(col("vec_id") < cells)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  /** Query vectors (vec_id < nQueries): bounded driver-side collect, shipped
    * to tasks in the closure (the broadcast-join side of the old plan). */
  private def queryArrays(emb: DataFrame, nQueries: Int): Array[(Long, Array[Float])] =
    emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  /** Per-partition worst-first heap ordering: head is the WORST kept element
    * per query under (cosine desc, vec_id asc). */
  private val worstFirst = Ordering.by[(Double, Long), (Double, Long)] {
    case (cos, id) => (-cos, id)
  }

  /** One narrow pass: score every (vector, relevant query) pair with
    * [[cosineJvm]] and keep only the k best rows per query per partition, so
    * the rank shuffle moves ≤ k·queries rows per partition. `queriesFor`
    * selects the queries a vector must be scored against (all of them for
    * brute force; the cell's probing queries for IVF). */
  private def scoredPartialTopK(emb: DataFrame, k: Int,
      queriesFor: org.apache.spark.sql.Row => Iterator[(Long, Array[Float])]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.mapPartitions { it =>
      val heaps = scala.collection.mutable.Map[Long, scala.collection.mutable.PriorityQueue[(Double, Long)]]()
      it.foreach { row =>
        val v = row.getLong(0)
        lazy val e = row.getSeq[Float](1).toArray
        queriesFor(row).foreach { case (q, qe) =>
          if (v != q) {
            val c = cosineJvm(qe, e)
            val h = heaps.getOrElseUpdate(q,
              scala.collection.mutable.PriorityQueue.empty(worstFirst))
            h.enqueue((c, v))
            if (h.size > k) h.dequeue()
          }
        }
      }
      heaps.iterator.flatMap { case (q, h) => h.iterator.map { case (c, v) => (q, v, c) } }
    }.toDF("query_id", "vec_id", "cosine")
  }

  /** Rank the partial top-k survivors globally (the only shuffle). */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Brute-force top-k neighbors for the query rows (vec_id < nQueries).
    * Output carries ids + rank only: ranking uses the raw (unrounded) cosine
    * so the oracle compare is robust to last-ulp accumulation differences. */
  def bruteForceTopK(emb: DataFrame, nQueries: Int = 8, k: Int = 5): DataFrame = {
    val queries = queryArrays(emb, nQueries)
    val scored = scoredPartialTopK(
      emb.select(col("vec_id"), col("embedding")), k, _ => queries.iterator)
    rankTopK(scored, k)
  }

  /** IVF cell assignment: argmax over the closure-shipped centroids in a
    * single narrow map — no cross join, no window, no shuffle (round-1 used
    * a crossJoin + Window sort-shuffle of n×cells rows; ADVICE fix).
    * Ties break to the lowest cell id (first maximum, matching the previous
    * `array_position(ds, array_max(ds))` expression). That expression
    * orders NaN above every number, so the first NaN cosine wins as well:
    * a NaN component, and here also a zero-norm centroid or vector (0/0). */
  def ivfAssign(emb: DataFrame, cells: Int = 16): DataFrame = {
    val cents = centroidArrays(emb, cells)
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .mapPartitions { it =>
        it.map { case (id, e) =>
          val arr = e.toArray
          var best = 0
          var bestD = cosineJvm(cents(0)._2, arr)
          var i = 1
          while (i < cents.length) {
            val d = cosineJvm(cents(i)._2, arr)
            if ((d.isNaN && !bestD.isNaN) || d > bestD) { bestD = d; best = i }
            i += 1
          }
          (id, e, cents(best)._1)
        }
      }.toDF("vec_id", "embedding", "cell_id")
  }

  /** IVF top-k: probe the query's `nprobe` best cells only. Probe selection
    * sorts (−cosine, cell_id) ascending over the centroid set — the same
    * (negd, cell_id) struct sort as the previous expression form. */
  def ivfTopK(emb: DataFrame, nQueries: Int = 8, k: Int = 5,
      cells: Int = 16, nprobe: Int = 4): DataFrame = {
    val cents = centroidArrays(emb, cells)
    val queries = queryArrays(emb, nQueries)
    // per-cell list of probing queries (driver-side; bounded by nQueries)
    val byCell: Map[Int, Array[(Long, Array[Float])]] = queries
      .flatMap { case (q, qe) =>
        cents.map { case (cellId, ce) => (-cosineJvm(qe, ce), cellId) }
          .sortBy(identity)
          .take(nprobe)
          .map { case (_, cellId) => (cellId, (q, qe)) }
      }
      .groupBy(_._1).map { case (cellId, qs) => cellId -> qs.map(_._2) }
    val assigned = ivfAssign(emb, cells)
      .select(col("vec_id"), col("embedding"), col("cell_id"))
    val scored = scoredPartialTopK(assigned, k,
      row => byCell.getOrElse(row.getInt(2), Array.empty[(Long, Array[Float])]).iterator)
    rankTopK(scored, k)
  }
}
