package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.functions.TextFunctions

/** IVF (inverted-file) coarse quantizer: deterministic Lloyd's k-means,
  * built from first principles so every arithmetic step is replicable as
  * DuckDB SQL — the oracle COMPUTES the same centers instead of trusting a
  * black-box fit (MLlib's k-means|| init draws from a partition-dependent
  * RNG stream, which no SQL oracle can reproduce).
  *
  * Determinism contract (shared with the SQL twin in SimilarityQueries):
  * - init: the k ids smallest by (md5(CAST(id AS STRING)), id); center c
  *   = embedding of the c-th pick in that order. Hash order is a
  *   deterministic pseudo-random draw that both engines reproduce
  *   bit-identically, and top-k-by-hash is a per-partition
  *   TakeOrderedAndProject — no global sort, no rank window, scale-free.
  * - assignment: cell = argmin over centers of (-2*dot(x,c) + dot(c,c)),
  *   ties to the smallest cell id; dot is the sequential left-fold
  *   (FloatVectorDot == DuckDB list_sum order).
  * - update: per-dimension mean of assigned vectors through
  *   DECIMAL(28,6) (exact, partition-order-independent), divided in
  *   double, cast to float — bit-identical in both engines.
  * - empty cells drop out; surviving cells keep their original ids.
  *
  * Scale: each iteration is one corpus scan (codegen'd argmin over k
  * literal dots) + one grouped aggregate of k*dim decimal sums; only the
  * k x dim center matrix (model parameters) ever touches the driver.
  */
object IvfIndex {

  private val SumDec = DecimalType(28, 6)

  /** Sequential self-dot in double — same fold order as FloatVectorDot
    * and DuckDB list_sum, so center norms agree bitwise. Shared with
    * [[ProductQuantizer]] and the IVF probes of SimilarityQueries.
    */
  private[graft] def selfDot(c: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < c.length) { acc += c(i).toDouble * c(i).toDouble; i += 1 }
    acc
  }

  /** Argmin-cell expression over literal centers: one codegen'd dot per
    * center, ties to the smallest cell id via struct ordering.
    */
  def cellExpr(emb: Column, centers: Seq[(Int, Array[Float])]): Column = {
    val scored = centers.map { case (cellId, c) =>
      struct((lit(-2.0) * TextFunctions.dot(emb, lit(c)) + lit(selfDot(c))).as("score"),
        lit(cellId).as("cell"))
    }
    array_min(array(scored: _*)).getField("cell")
  }

  /** Fit `iters` Lloyd rounds over `e` (columns: idCol long, embCol
    * array<float> of length `dim`). Returns surviving (cellId, center)
    * pairs, original ids, ascending.
    */
  def fit(e: DataFrame, idCol: String, embCol: String,
          k: Int, dim: Int, iters: Int): Seq[(Int, Array[Float])] =
    iterate(e, embCol, initCenters(e, idCol, embCol, k), dim, iters)

  /** Hash-order init: the k ids smallest by (md5(id-as-string), id) — a
    * deterministic pseudo-random draw. orderBy+limit(k) plans as
    * TakeOrderedAndProject (per-partition top-k, driver merges
    * k * numPartitions candidate rows), so unlike a rank window there is
    * no global sort and no single-partition exchange at any scale; the
    * embeddings come back via an isin-pushdown scan of just the k ids.
    * Split out so [[ProductQuantizer]] can run it ONCE and slice the
    * picked vectors per subspace instead of re-scanning per subspace.
    */
  private[graft] def initCenters(e: DataFrame, idCol: String, embCol: String,
                                 k: Int): Seq[(Int, Array[Float])] = {
    import org.apache.spark.sql.types.StringType
    // Ids are read generically (r.get) and keyed on Any so a string/int
    // idCol works the same as the long ids in testdata — the r5 ADVICE
    // flagged the previous getLong as a latent ClassCastException.
    val pickIds: Array[Any] = e.select(col(idCol))
      .orderBy(md5(col(idCol).cast(StringType)), col(idCol))
      .limit(k)
      .collect().map(_.get(0))
    val cellOf: Map[Any, Int] = pickIds.zipWithIndex.toMap
    e.filter(col(idCol).isin(pickIds: _*))
      .select(col(idCol), col(embCol))
      .collect()
      .map(r => cellOf(r.get(0)) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1).toSeq
  }

  /** The Lloyd rounds, starting from explicit `init` centers. Exposed
    * (r17) so ann_ivfpq_topk can run [[initCenters]] ONCE and feed the
    * same picks to this and to [[ProductQuantizer.fitFromInit]] — the
    * IVF k and PQ k are both 16, so the two fits' init scans were
    * byte-identical duplicate jobs (guide §1.2: don't compute things
    * twice).
    */
  private[graft] def iterate(e: DataFrame, embCol: String,
                             init: Seq[(Int, Array[Float])],
                             dim: Int, iters: Int): Seq[(Int, Array[Float])] = {
    (1 to iters).foldLeft(init) { (centers, _) =>
      val assigned = e.withColumn("__cell", cellExpr(col(embCol), centers))
      val sums = (0 until dim).map(i =>
        sum(element_at(col(embCol), i + 1).cast(DoubleType).cast(SumDec))
          .cast(DoubleType).as(s"s$i"))
      val rows = assigned.groupBy("__cell")
        .agg(count(lit(1)).as("__cnt"), sums: _*)
        .collect()
      rows.map { r =>
        val cnt = r.getLong(1).toDouble
        val center = Array.tabulate(dim)(i => (r.getDouble(2 + i) / cnt).toFloat)
        r.getInt(0) -> center
      }.sortBy(_._1).toSeq
    }
  }
}
