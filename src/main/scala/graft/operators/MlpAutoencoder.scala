package graft.operators

import org.apache.spark.sql.DataFrame

import graft.GraftConfig

/** Nonlinear (tied-weight MLP) autoencoder anomaly detector — the faithful
  * distributed counterpart of the reference's LSTM autoencoder
  * (reference: src/models/deep_learning_models.py:1-93 encode→bottleneck→
  * decode, main.py:21-56 training loop, main.py:183-233 sequence→score).
  *
  * Architecture: h = tanh(W xc + b1), xhat = W' h + b2 over mean-centered
  * length-L sequence windows, hidden size K < L. The tied decoder keeps the
  * parameter count at K*L + K + L — small enough that the WHOLE model is
  * driver-side state (model parameters, never data), exactly like
  * PcaReconstruction's component matrix.
  *
  * Training is mapPartitions minibatch SGD + synchronous parameter
  * averaging (one communication round per epoch — the standard data-parallel
  * scheme when the model is tiny and the data is huge):
  *   - every partition starts each epoch from the same broadcast weights,
  *     runs deterministic-order SGD over its rows, emits (params, count);
  *   - the driver averages partition results weighted by count, sorted by
  *     partition id so float accumulation order is fixed;
  *   - no parameter server, no per-batch shuffles; scales with executors.
  *
  * Determinism: seeded Xavier init, per-partition row order fixed by an
  * explicit sortWithinPartitions on (key, order), partition assignment fixed
  * by repartition(hash(key)); same data + same partitioning => identical
  * model, bit for bit.
  *
  * Scoring is a second mapPartitions pass with the final weights broadcast:
  * err = ||xc - decode(encode(xc))||^2 / L per window, flagged against
  * flagFactor x the per-series mean error (the reference's threshold-on-
  * error shape, config.py:23).
  */
object MlpAutoencoder {

  final case class Params(w: Array[Double], b1: Array[Double], b2: Array[Double]) {
    def copyOf(): Params = Params(w.clone(), b1.clone(), b2.clone())
  }

  /** Seeded Xavier-uniform init — same stream every run. */
  def init(seqLen: Int, hidden: Int, seed: Long): Params = {
    val rng = new scala.util.Random(seed)
    val lim = math.sqrt(6.0 / (seqLen + hidden))
    Params(
      Array.fill(hidden * seqLen)((rng.nextDouble() * 2 - 1) * lim),
      Array.fill(hidden)(0.0),
      Array.fill(seqLen)(0.0))
  }

  /** Engine-portable round6-quantized tanh — the activation of the
    * `ts_ae_forward` exact-oracle fence. DuckDB ships no tanh, so both
    * engines evaluate (e^{2a}−1)/(e^{2a}+1) from libm exp and round6
    * absorbs the last-ulp libm differences (the normalCdf precedent).
    * |a| ≥ 9 short-circuits to ±1.0 — identical to the unguarded
    * round6 value from |a| > 7.7 on, and it keeps exp finite for any
    * pre-activation (raw exp overflows past a ≈ 354 → Inf/Inf = NaN).
    */
  def portableTanh(a: Double): Double =
    if (a >= 9.0) 1.0
    else if (a <= -9.0) -1.0
    else {
      val e2 = math.exp(2.0 * a)
      graft.functions.CleanFunctions.round6Jvm((e2 - 1.0) / (e2 + 1.0))
    }

  /** Forward pass: returns (h, xhat). W is row-major (hidden x seqLen).
    * `activation` defaults to the production tanh; the ts_ae_forward
    * fence plugs [[portableTanh]] so the SAME loops run under the
    * exact-hash oracle gate.
    */
  private def forward(p: Params, xc: Array[Double], seqLen: Int, hidden: Int,
                      activation: Double => Double = null)
      : (Array[Double], Array[Double]) = {
    val h = new Array[Double](hidden)
    var i = 0
    while (i < hidden) {
      var a = p.b1(i)
      var j = 0
      while (j < seqLen) { a += p.w(i * seqLen + j) * xc(j); j += 1 }
      // null = the production math.tanh, kept as a static JIT-inlinable
      // call (the LstmAutoencoder lstmStep lesson: an unconditional
      // function value in the hot loop measurably slows scoring).
      h(i) = if (activation eq null) math.tanh(a) else activation(a)
      i += 1
    }
    val xhat = new Array[Double](seqLen)
    var j = 0
    while (j < seqLen) {
      var a = p.b2(j)
      var i2 = 0
      while (i2 < hidden) { a += p.w(i2 * seqLen + j) * h(i2); i2 += 1 }
      xhat(j) = a
      j += 1
    }
    (h, xhat)
  }

  /** Per-window gradient on the FLAT parameter layout (w ++ b1 ++ b2 —
    * same packing as [[toFlat]]), written into the caller's preallocated
    * `grad` (batch size 1 keeps the math obvious; the JIT-fused loops are
    * the hot path either way). Tied-weight grads:
    * dW = da x' + h e'  with e = 2(xhat - x)/L, da = (1-h^2) * (W e).
    * Collect-then-apply is bit-identical to the fused in-place SGD step it
    * replaced: da/h/e were already fully computed before any update there,
    * and `p -= lr*(da*x + h*e)` evaluates the same expression tree.
    */
  private def gradFlat(p: Array[Double], xc: Array[Double],
                       seqLen: Int, hidden: Int, grad: Array[Double]): Unit = {
    val nw = hidden * seqLen
    val h = new Array[Double](hidden)
    var i = 0
    while (i < hidden) {
      var a = p(nw + i)
      var j = 0
      while (j < seqLen) { a += p(i * seqLen + j) * xc(j); j += 1 }
      h(i) = math.tanh(a)
      i += 1
    }
    val e = new Array[Double](seqLen)
    var j = 0
    while (j < seqLen) {
      var a = p(nw + hidden + j)
      var i2 = 0
      while (i2 < hidden) { a += p(i2 * seqLen + j) * h(i2); i2 += 1 }
      e(j) = 2.0 * (a - xc(j)) / seqLen
      j += 1
    }
    val da = new Array[Double](hidden)
    i = 0
    while (i < hidden) {
      var s = 0.0
      var j2 = 0
      while (j2 < seqLen) { s += p(i * seqLen + j2) * e(j2); j2 += 1 }
      da(i) = (1.0 - h(i) * h(i)) * s
      i += 1
    }
    i = 0
    while (i < hidden) {
      var j3 = 0
      while (j3 < seqLen) {
        grad(i * seqLen + j3) = da(i) * xc(j3) + h(i) * e(j3)
        j3 += 1
      }
      grad(nw + i) = da(i)
      i += 1
    }
    j = 0
    while (j < seqLen) { grad(nw + hidden + j) = e(j); j += 1 }
  }

  private def meanError(p: Params, xc: Array[Double], seqLen: Int, hidden: Int,
                        activation: Double => Double = null): Double = {
    val (_, xhat) = forward(p, xc, seqLen, hidden, activation)
    var s = 0.0
    var j = 0
    while (j < seqLen) { val d = xhat(j) - xc(j); s += d * d; j += 1 }
    s / seqLen
  }

  /** Forward-ONLY scoring with FIXED parameters — the inference path
    * alone, no training. This is what the `ts_ae_forward` exact-oracle
    * fence runs: with `p = init(...)` (0-epoch seeded weights) and
    * `activation = portableTanh`, every double the production
    * [[forward]]/[[meanError]] loops produce is replayed term-for-term
    * by a DuckDB expression tree, so an indexing/transposition/fold
    * defect in the hand-written loops fails the exact-hash gate — the
    * unverified surface of the ts_ae_recon rows-only entry shrinks to
    * the SGD step itself. Model params broadcast; one map pass, no
    * shuffle.
    */
  def scoreWith(seqs: DataFrame, seqCol: String, p: Params,
                seqLen: Int, hidden: Int,
                activation: Double => Double = null): DataFrame = {
    require(p.w.length == hidden * seqLen && p.b1.length == hidden &&
      p.b2.length == seqLen, "scoreWith: params do not match (seqLen, hidden)")
    DistributedSgd.withReconErr(seqs, seqCol, p)(p =>
      xc => meanError(p, xc, seqLen, hidden, activation))
  }

  /** Pack/unpack for the flat-vector [[DistributedSgd]] harness (layout:
    * w ++ b1 ++ b2 — element order preserved, so averaging arithmetic is
    * bit-identical to averaging the fields separately).
    */
  private def toFlat(p: Params): Array[Double] = p.w ++ p.b1 ++ p.b2
  private def fromFlat(a: Array[Double], seqLen: Int, hidden: Int): Params = {
    val nw = hidden * seqLen
    Params(java.util.Arrays.copyOfRange(a, 0, nw),
      java.util.Arrays.copyOfRange(a, nw, nw + hidden),
      java.util.Arrays.copyOfRange(a, nw + hidden, nw + hidden + seqLen))
  }

  /** Train on the `seqCol` windows of `df` (array<double>, length seqLen)
    * via the shared SGD + parameter-averaging harness (see
    * [[DistributedSgd.fit]] for the communication scheme and determinism
    * contract). Returns the BEST-LOSS epoch's parameters, not the last's
    * (reference main.py:44-56; the epochScorer note on
    * [[DistributedSgd.fit]] covers cost and determinism).
    * `optimizer="adam"` swaps plain SGD for the reference's deterministic
    * Adam (main.py:24; per-epoch moment state — see
    * [[DistributedSgd.Adam]]).
    */
  def fit(seqs: DataFrame, seqCol: String, seqLen: Int, hidden: Int,
          epochs: Int, lr: Double, seed: Long,
          optimizer: String = "sgd"): Params = {
    require(optimizer == "sgd" || optimizer == "adam",
      s"optimizer must be 'sgd' or 'adam', got '$optimizer'")
    val n = hidden * seqLen + hidden + seqLen
    fromFlat(
      DistributedSgd.fit(seqs, seqCol, epochs, toFlat(init(seqLen, hidden, seed)),
        (_, flat, windows) => {
          val grad = new Array[Double](n)
          val adam = if (optimizer == "adam") new DistributedSgd.Adam(n, lr) else null
          windows.foreach { xc =>
            gradFlat(flat, xc, seqLen, hidden, grad)
            if (adam != null) adam.step(flat, grad)
            else {
              var k = 0
              while (k < n) { flat(k) -= lr * grad(k); k += 1 }
            }
          }
          flat
        },
        epochScorer = Some { flat =>
          val p = fromFlat(flat, seqLen, hidden)
          xc => meanError(p, xc, seqLen, hidden)
        }),
      seqLen, hidden)
  }

  /** Detector over the reference's literal training input (main.py:
    * 183-195: sequences over the FULL scaled feature matrix, shape (L, F)):
    * each row's feature vector is windowed to (L, F) and flattened to an
    * L*F input ([[TimeSeriesOps.featureWindows]]: rows with a null or NaN
    * feature dropped, full windows only; one column is the univariate
    * case), then center, train, score every window and flag scores above
    * `flagFactor` x the per-series mean error, all on the shared
    * [[DistributedSgd.detect]] path.
    *
    * Partitioning contract: training data is repartitioned by the series
    * key and sorted within partitions by (key, order) so per-partition SGD
    * order — and therefore the model — is deterministic.
    *
    * `trainPartitions` is a determinism<->parallelism trade, NOT a tuning
    * afterthought: the averaged model depends on how rows split across
    * partitions, so the SAME value on the same data gives a bit-identical
    * model while a DIFFERENT value gives a different-but-equally-good one
    * (the recall bar is asserted at P=4 and P=16 in MlpAutoencoderSpec).
    * The default 8 favors reproducibility; on a large cluster raise it to
    * ~2x the executor cores available for the fit — training parallelism
    * is capped by it.
    */
  def detect(df: DataFrame, keys: Seq[String], order: Seq[String],
             featureCols: Seq[String],
             seqLen: Int = GraftConfig.SequenceLength, hidden: Int = 8,
             epochs: Int = 3, lr: Double = 0.05, seed: Long = 42L,
             flagFactor: Double = 4.0, trainPartitions: Int = 8,
             optimizer: String = "sgd"): DataFrame = {
    val dim = seqLen * featureCols.length
    DistributedSgd.detect(df, keys, order, featureCols, seqLen,
      flagFactor, trainPartitions,
      fitOnCentered = train =>
        toFlat(fit(train, "xc", dim, hidden, epochs, lr, seed, optimizer)),
      scorer = flat => {
        val p = fromFlat(flat, dim, hidden)
        xc => meanError(p, xc, dim, hidden)
      })
  }
}
