package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Product quantization (Jégou et al., PAMI 2011): split each vector
  * into `m` subspaces and learn an independent small codebook per
  * subspace — the standard 100 TB vector-index compression (an m-byte
  * code replaces a dim×4-byte float vector; asymmetric distances come
  * from m table lookups).
  *
  * Built entirely on [[IvfIndex]]'s deterministic Lloyd recipe, run once
  * per subspace over the SLICED corpus, so the whole fit inherits its
  * engine-replicable contract (hash-order init — the same k picked ids
  * for every subspace — DECIMAL-exact center means, argmin with
  * smallest-code tiebreak). The DuckDB oracle recomputes identical
  * codebooks, making the code assignment an exact-hash check.
  *
  * Scale: fit = m × (iters + 1) corpus scans of 1/m-width slices (same
  * total bytes as one IVF fit); only the m × k × (dim/m) codebook floats
  * reach the driver; encoding is a pure codegen argmin per subspace.
  */
object ProductQuantizer {

  /** Fit `m` per-subspace codebooks of `k` centers each over `iters`
    * Lloyd rounds. Returns codebooks indexed by subspace.
    */
  def fit(e: DataFrame, idCol: String, embCol: String,
          dim: Int, m: Int, k: Int, iters: Int): Seq[Seq[(Int, Array[Float])]] =
    // One pick/collect pass on the FULL vectors; every subspace's init is
    // a driver-side slice of the same picks (they share the pick ids by
    // contract) — not m redundant top-k scans (code-review finding).
    fitFromInit(e, embCol, IvfIndex.initCenters(e, idCol, embCol, k),
      dim, m, k, iters)

  /** [[fit]] from precomputed hash-order picks (the full-width vectors of
    * [[IvfIndex.initCenters]]) — lets ann_ivfpq_topk share ONE init scan
    * with its IVF fit.
    *
    * All m subspaces advance through each Lloyd round in ONE job
    * (r17, guide §2.4/§1.2): the old shape ran m separate
    * assign+aggregate jobs per round over 1/m-width slices — same bytes,
    * m× the job scheduling and m× the plan/codegen of the literal-center
    * argmin. Here the row explodes into its m (subspace, cell, slice)
    * assignments once and a single grouped aggregate computes every
    * subspace's per-cell DECIMAL sums; decimal sums are exact and
    * order-blind, so each center mean is bit-identical to the
    * per-subspace formulation (PqFusedFitSpec pins this).
    */
  def fitFromInit(e: DataFrame, embCol: String,
                  fullInit: Seq[(Int, Array[Float])],
                  dim: Int, m: Int, k: Int,
                  iters: Int): Seq[Seq[(Int, Array[Float])]] = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    require(fullInit.size == k, s"fullInit has ${fullInit.size} centroids, expected k=$k")
    val sub = dim / m
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val SumDec = DecimalType(28, 6)
    val init: Seq[Seq[(Int, Array[Float])]] = (0 until m).map { j =>
      fullInit.map { case (cid, c) => cid -> c.slice(j * sub, j * sub + sub) }
    }
    (1 to iters).foldLeft(init) { (books, _) =>
      val jAssign = (0 until m).map { j =>
        val sl = slice(col(embCol), j * sub + 1, sub)
        struct(IvfIndex.cellExpr(sl, books(j)).as("cell"), sl.as("v"))
      }
      val assigned = e
        .select(posexplode(array(jAssign: _*)).as(Seq("j", "jc")))
        .select(col("j"), col("jc.cell").as("cell"), col("jc.v").as("v"))
      val sums = (0 until sub).map(i =>
        sum(element_at(col("v"), i + 1).cast(DoubleType).cast(SumDec))
          .cast(DoubleType).as(s"s$i"))
      val rows = assigned.groupBy("j", "cell")
        .agg(count(lit(1)).as("__cnt"), sums: _*)
        .collect()
      val byJ = rows.groupBy(_.getInt(0))
      (0 until m).map { j =>
        byJ.getOrElse(j, Array.empty).map { r =>
          val cnt = r.getLong(2).toDouble
          val center = Array.tabulate(sub)(i => (r.getDouble(3 + i) / cnt).toFloat)
          r.getInt(1) -> center
        }.sortBy(_._1).toSeq
      }
    }
  }

  /** (code, squared-error) expressions for subspace `j`: argmin code via
    * the shared -2·x·c + c·c score with smallest-code tiebreak, and the
    * subspace quantization error x·x + score clamped at 0 (exact-zero
    * distances can cancel to a tiny negative in double).
    */
  def codeAndError(emb: Column, j: Int, sub: Int,
                   centers: Seq[(Int, Array[Float])]): (Column, Column) = {
    val sl = slice(emb, j * sub + 1, sub)
    val scored = centers.map { case (cid, c) =>
      struct((lit(-2.0) * TextFunctions.dot(sl, lit(c)) + lit(IvfIndex.selfDot(c)))
        .as("score"), lit(cid).as("cell"))
    }
    val mn = array_min(array(scored: _*))
    (mn.getField("cell"), greatest(TextFunctions.dot(sl, sl) + mn.getField("score"), lit(0.0)))
  }
}
