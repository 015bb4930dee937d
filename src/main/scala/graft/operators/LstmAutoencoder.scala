package graft.operators

import org.apache.spark.sql.DataFrame

import graft.GraftConfig

/** LSTM autoencoder anomaly detector — the recurrent counterpart of the
  * reference architecture (reference: src/models/deep_learning_models.py
  * :1-93: LSTM encoder -> FC bottleneck -> FC -> LSTM decoder -> FC output;
  * main.py:183-233 sequence -> score). Where [[MlpAutoencoder]] reads the
  * whole (L,F) window as one flat vector, this model consumes it STEP BY
  * STEP through gated recurrent state, so reconstruction depends on
  * temporal order — a sequence and its permutation score differently.
  *
  * Architecture (hidden size H, bottleneck B, per-step input dim F,
  * NL stacked layers per side — reference config.py:29 LSTM_N_LAYERS=2):
  *   encoder LSTM stack over x_1..x_L (layer j>0 consumes layer j−1's
  *     hidden sequence) -> top layer's h_L
  *   bottleneck c = tanh(Wb h_L + bb)
  *   decoder LSTM stack fed c at every step (RepeatVector shape) -> d_1..d_L
  *   output xhat_t = Wo d_t^{top} + bo
  * Loss = mean squared reconstruction error over all L*F elements.
  *
  * Default-mode deltas vs the reference's exact layer stack — both
  * closed by the opt-in `referenceDecoder = true` ([[LstmDims.refDec]]):
  * (1) the default bottleneck applies tanh where the reference's
  * encoder_fc is linear (deep_learning_models.py:26,65) — a bounded
  * latent keeps batch-1 SGD stable without the framework's Adam; under
  * the flag the latent is linear, matching the reference. (2) by default
  * the B-dim code feeds the decoder LSTM directly (input size B); under
  * the flag a decoder_fc inflates it to H and THAT vector repeats as the
  * decoder input sequence (deep_learning_models.py:30,72-74), the
  * reference's literal wiring. With the flag on, the layer stack is the
  * reference's exactly; default stays the historical (leaner) model and
  * its byte-identical parameter stream. Inter-layer dropout (reference
  * config.py:30 LSTM_DROPOUT_PROB=0.2) — previously a third delta — is
  * now available deterministically: a COUNTER-BASED mask (SplitMix64 of
  * (seed, epoch, window, stack, layer, step, unit), [[dropMaskBase]] /
  * dropKeep) replaces the framework RNG stream, so the PyTorch
  * all-but-top-layer inverted-dropout semantics hold WITHOUT breaking the
  * same-data-same-model bit-determinism contract. Train-time only;
  * scoring always runs the unmasked net.
  *
  * Training and scoring reuse the [[DistributedSgd]] harness — the same
  * mapPartitions SGD + weighted parameter averaging and the same
  * determinism contract as the MLP detector: seeded init, per-partition
  * row order fixed by sortWithinPartitions, partition results averaged in
  * partition-id order; same data + same partitioning => identical model,
  * bit for bit. Backprop-through-time runs in plain fused Scala loops on
  * executors; only the flat parameter vector crosses the wire.
  */
object LstmAutoencoder {

  /** Parameter layout for the flat vector. Per gate: W (h x in) row-major,
    * then U (h x h), then bias (h). Gate order i, f, o, g for both LSTM
    * stacks; layers bottom-up within each stack (layer 0 reads the data /
    * the code, upper layers read the hidden sequence below, input h).
    * For nl = 1 the layout — and therefore the seeded init stream — is
    * IDENTICAL to the historical single-layer model.
    */
  /** `refDec = true` selects the reference's EXACT decoder-side stack
    * (deep_learning_models.py:26,30,64-74): a LINEAR encoder_fc latent
    * (no tanh squash) and a decoder_fc inflating the B-dim code back to
    * H, whose output — not the code — repeats as the decoder-LSTM input
    * sequence (input size H). With the default `false` the layout (and
    * therefore the seeded init stream and every historical model) is
    * byte-identical to the pre-flag code.
    */
  final case class LstmDims(f: Int, l: Int, h: Int, b: Int, nl: Int = 1,
                            refDec: Boolean = false) {
    require(nl >= 1, s"nl=$nl layers must be >= 1")
    val decIn0: Int    = if (refDec) h else b // decoder layer-0 input dim
    val encGate0: Int  = h * f + h * h + h // encoder layer 0 (input f)
    val encGateUp: Int = h * h + h * h + h // encoder layers 1.. (input h)
    val decGate0: Int  = h * decIn0 + h * h + h // decoder layer 0
    val decGateUp: Int = h * h + h * h + h // decoder layers 1.. (input h)
    val oEnc: Int  = 0
    val oBott: Int = oEnc + 4 * encGate0 + (nl - 1) * 4 * encGateUp
    val oDecFc: Int = oBott + b * h + b   // Wb (b x h) ++ bb (b)
    // decoder_fc Wd (h x b) ++ bd (h) — present only under refDec.
    val oDec: Int  = if (refDec) oDecFc + h * b + h else oDecFc
    val oOut: Int  = oDec + 4 * decGate0 + (nl - 1) * 4 * decGateUp
    val total: Int = oOut + f * h + f     // Wo (f x h) ++ bo (f)
    def encBase(layer: Int): Int =
      if (layer == 0) oEnc else oEnc + 4 * encGate0 + (layer - 1) * 4 * encGateUp
    def decBase(layer: Int): Int =
      if (layer == 0) oDec else oDec + 4 * decGate0 + (layer - 1) * 4 * decGateUp
    def encGate(layer: Int): Int = if (layer == 0) encGate0 else encGateUp
    def decGate(layer: Int): Int = if (layer == 0) decGate0 else decGateUp
    def encIn(layer: Int): Int = if (layer == 0) f else h
    def decIn(layer: Int): Int = if (layer == 0) decIn0 else h
  }

  /** Per-layer forward activations kept for BPTT. */
  private final class LayerWs(l: Int, h: Int) {
    val hs = new Array[Double]((l + 1) * h) // hidden, row 0 = 0
    val cs = new Array[Double]((l + 1) * h) // cell,   row 0 = 0
    val ig = new Array[Double](l * h)
    val fg = new Array[Double](l * h)
    val og = new Array[Double](l * h)
    val gg = new Array[Double](l * h)
  }

  /** Reusable per-partition scratch: forward activations kept for BPTT. */
  private final class Ws(d: LstmDims) {
    val enc = Array.fill(d.nl)(new LayerWs(d.l, d.h))
    val dec = Array.fill(d.nl)(new LayerWs(d.l, d.h))
    // Inter-layer dropout buffers, one per stack boundary (between layer
    // b and b+1; empty for nl=1): scale(b)(t*h+i) is 0 or 1/q (inverted
    // dropout), maskedH(b) row t+1 = hs row t+1 x that scale. Forward
    // fills them per window; the same window's backward reads them.
    val encDropH  = Array.fill(d.nl - 1)(new Array[Double]((d.l + 1) * d.h))
    val decDropH  = Array.fill(d.nl - 1)(new Array[Double]((d.l + 1) * d.h))
    val encScale  = Array.fill(d.nl - 1)(new Array[Double](d.l * d.h))
    val decScale  = Array.fill(d.nl - 1)(new Array[Double](d.l * d.h))
    val cvec  = new Array[Double](d.b)
    val e     = new Array[Double](d.l * d.f)      // d(loss)/d(xhat)
    val dcvec = new Array[Double](d.b)
    // refDec only: the decoder_fc-inflated vector and its gradient.
    val dvec  = new Array[Double](if (d.refDec) d.h else 0)
    val ddvec = new Array[Double](if (d.refDec) d.h else 0)
    // Inter-layer gradient buffer: d(loss)/d(h_t of the layer below),
    // one row per step — filled by the upper layer's back pass, consumed
    // as the lower layer's per-step dh injection.
    val dxBuf = new Array[Double](d.l * d.h)
    var dh  = new Array[Double](d.h)
    var dc  = new Array[Double](d.h)
    var dhP = new Array[Double](d.h)
    var dcP = new Array[Double](d.h)
    val dia = new Array[Double](d.h)              // per-gate pre-activation
    val dfa = new Array[Double](d.h)              // grads, reused every
    val doa = new Array[Double](d.h)              // back-step (allocating
    val dga = new Array[Double](d.h)              // here, not per step)
  }

  private def sigmoid(a: Double): Double = 1.0 / (1.0 + math.exp(-a))

  /** Engine-portable round6-quantized sigmoid — the gate activation of
    * the `ts_lstm_forward` exact-oracle fence (the
    * MlpAutoencoder.portableTanh convention: both engines evaluate
    * 1/(1+e^{−a}) from libm exp, round6 absorbs last-ulp libm
    * differences). |a| ≥ 16 saturates to {1, 0} — identical to the
    * unguarded round6 value from |a| > 14.5 on, exp kept finite for any
    * pre-activation.
    */
  def portableSigmoid(a: Double): Double =
    if (a >= 16.0) 1.0
    else if (a <= -16.0) 0.0
    else graft.functions.CleanFunctions.round6Jvm(1.0 / (1.0 + math.exp(-a)))

  /** SplitMix64 finalizer — the counter-based RNG under deterministic
    * dropout: a pure mix of the key, no sequential stream, so the mask
    * bit for (seed, epoch, window, stack, layer, step, unit) is the same
    * on any executor in any order (the property a framework RNG lacks
    * and the reason config.py:30's dropout was previously omitted).
    */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Keep-decision for one dropout cell: uniform in [0,1) from the mixed
    * key, kept when >= p. maskBase already encodes (seed, epoch, window).
    */
  private def dropKeep(maskBase: Long, stackId: Int, layer: Int,
                       t: Int, i: Int, p: Double): Boolean = {
    val k = mix64(maskBase ^ (stackId.toLong << 56) ^ (layer.toLong << 48) ^
      (t.toLong << 24) ^ i.toLong)
    ((k >>> 11).toDouble * (1.0 / (1L << 53))) >= p
  }

  /** The (seed, epoch, window-in-partition) component of the mask key. */
  def dropMaskBase(seed: Long, epoch: Int, window: Long): Long =
    mix64(mix64(seed ^ (epoch.toLong * 0x9e3779b97f4a7c15L)) ^ window)

  /** Seeded Xavier-uniform init in layout order (one RNG stream — same
    * params every run); biases 0 except forget gates at 1.0 (the standard
    * keep-the-cell-open start, deterministic).
    */
  def init(d: LstmDims, seed: Long): Array[Double] = {
    val rng = new scala.util.Random(seed)
    val p = new Array[Double](d.total)
    def xavier(base: Int, rows: Int, cols: Int): Unit = {
      val lim = math.sqrt(6.0 / (rows + cols))
      var k = 0
      while (k < rows * cols) { p(base + k) = (rng.nextDouble() * 2 - 1) * lim; k += 1 }
    }
    def gates(base0: Int, gateSize: Int, in: Int): Unit = {
      var gi = 0
      while (gi < 4) {
        val base = base0 + gi * gateSize
        xavier(base, d.h, in)
        xavier(base + d.h * in, d.h, d.h)
        if (gi == 1) { // forget-gate bias
          val bBase = base + d.h * in + d.h * d.h
          java.util.Arrays.fill(p, bBase, bBase + d.h, 1.0)
        }
        gi += 1
      }
    }
    for (j <- 0 until d.nl) gates(d.encBase(j), d.encGate(j), d.encIn(j))
    xavier(d.oBott, d.b, d.h)
    if (d.refDec) xavier(d.oDecFc, d.h, d.b) // decoder_fc Wd; bd stays 0
    for (j <- 0 until d.nl) gates(d.decBase(j), d.decGate(j), d.decIn(j))
    xavier(d.oOut, d.f, d.h)
    p
  }

  /** One LSTM step: reads x[xOff..xOff+in), hs/cs row t; writes gate
    * activations at row t of ig/fg/og/gg and new state at row t+1.
    */
  private def lstmStep(p: Array[Double], base0: Int, gateSize: Int, in: Int, h: Int,
                       x: Array[Double], xOff: Int,
                       hs: Array[Double], cs: Array[Double], t: Int,
                       ig: Array[Double], fg: Array[Double],
                       og: Array[Double], gg: Array[Double],
                       tanhAct: Double => Double = null,
                       sigAct: Double => Double = null): Unit = {
    val pOff = t * h
    val nOff = (t + 1) * h
    val gOff = t * h
    var gi = 0
    while (gi < 4) {
      val base = base0 + gi * gateSize
      val uBase = base + h * in
      val bBase = uBase + h * h
      val dst = gi match { case 0 => ig; case 1 => fg; case 2 => og; case _ => gg }
      var i = 0
      while (i < h) {
        var a = p(bBase + i)
        var j = 0
        while (j < in) { a += p(base + i * in + j) * x(xOff + j); j += 1 }
        j = 0
        while (j < h) { a += p(uBase + i * h + j) * hs(pOff + j); j += 1 }
        // null = the production statics (JIT-inlinable — threading the
        // function values unconditionally cost BPTT 2.4x, measured
        // 8.0 -> 19.1 s on ts_lstm_recon); the ts_lstm_forward fence
        // passes the portable activations through the SAME loop body.
        dst(gOff + i) =
          if (gi == 3) { if (tanhAct eq null) math.tanh(a) else tanhAct(a) }
          else { if (sigAct eq null) sigmoid(a) else sigAct(a) }
        i += 1
      }
      gi += 1
    }
    var i = 0
    while (i < h) {
      val c = fg(gOff + i) * cs(pOff + i) + ig(gOff + i) * gg(gOff + i)
      cs(nOff + i) = c
      hs(nOff + i) = og(gOff + i) *
        (if (tanhAct eq null) math.tanh(c) else tanhAct(c))
      i += 1
    }
  }

  /** BPTT for one step. On entry ws-dh/dc hold d(loss)/d(h_t, c_t); on
    * return dhP/dcP hold d(loss)/d(h_{t-1}, c_{t-1}). Accumulates weight
    * grads into `grad` and (when `dx` non-null) input grads into dx[dxOff..).
    */
  private def lstmBackStep(p: Array[Double], grad: Array[Double],
                           base0: Int, gateSize: Int, in: Int, h: Int,
                           x: Array[Double], xOff: Int,
                           hs: Array[Double], cs: Array[Double], t: Int,
                           ig: Array[Double], fg: Array[Double],
                           og: Array[Double], gg: Array[Double],
                           dh: Array[Double], dc: Array[Double],
                           dhPrev: Array[Double], dcPrev: Array[Double],
                           dx: Array[Double], dxOff: Int,
                           ws: Ws): Unit = {
    val pOff = t * h
    val nOff = (t + 1) * h
    val gOff = t * h
    val dia = ws.dia
    val dfa = ws.dfa
    val doa = ws.doa
    val dga = ws.dga
    var i = 0
    while (i < h) {
      val o = og(gOff + i); val icur = ig(gOff + i)
      val fcur = fg(gOff + i); val g = gg(gOff + i)
      val tc = math.tanh(cs(nOff + i))
      doa(i) = dh(i) * tc * o * (1 - o)
      val dcTot = dc(i) + dh(i) * o * (1 - tc * tc)
      dia(i) = dcTot * g * icur * (1 - icur)
      dfa(i) = dcTot * cs(pOff + i) * fcur * (1 - fcur)
      dga(i) = dcTot * icur * (1 - g * g)
      dcPrev(i) = dcTot * fcur
      i += 1
    }
    java.util.Arrays.fill(dhPrev, 0.0)
    var gi = 0
    while (gi < 4) {
      val da = gi match { case 0 => dia; case 1 => dfa; case 2 => doa; case _ => dga }
      val base = base0 + gi * gateSize
      val uBase = base + h * in
      val bBase = uBase + h * h
      var i2 = 0
      while (i2 < h) {
        val dv = da(i2)
        var j = 0
        while (j < in) {
          grad(base + i2 * in + j) += dv * x(xOff + j)
          if (dx != null) dx(dxOff + j) += p(base + i2 * in + j) * dv
          j += 1
        }
        j = 0
        while (j < h) {
          grad(uBase + i2 * h + j) += dv * hs(pOff + j)
          dhPrev(j) += p(uBase + i2 * h + j) * dv
          j += 1
        }
        grad(bBase + i2) += dv
        i2 += 1
      }
      gi += 1
    }
  }

  /** Forward pass of one LSTM STACK (encoder or decoder side): layer 0
    * reads `x0` (stride `in0` per step, offset fixed for the decoder's
    * repeated code via `x0Stride` 0), upper layers read the hidden rows
    * of the layer below.
    */
  private def stackForward(p: Array[Double], d: LstmDims, layers: Array[LayerWs],
                           base: Int => Int, gate: Int => Int, in: Int => Int,
                           x0: Array[Double], x0Stride: Int,
                           dropP: Double = 0.0, maskBase: Long = 0L,
                           stackId: Int = 0,
                           dropH: Array[Array[Double]] = null,
                           dropScale: Array[Array[Double]] = null,
                           tanhAct: Double => Double = null,
                           sigAct: Double => Double = null): Unit = {
    var j = 0
    while (j < d.nl) {
      val lw = layers(j)
      // Per-layer constants hoisted out of the time loop (the layout
      // accessors are function values — a per-step call would sit inside
      // the BPTT hot path for nothing).
      val bj = base(j); val gj = gate(j); val ij = in(j)
      val xj =
        if (j == 0) x0
        else if (dropP > 0.0) dropH(j - 1)
        else layers(j - 1).hs
      var t = 0
      while (t < d.l) {
        val xOff = if (j == 0) t * x0Stride else (t + 1) * d.h
        lstmStep(p, bj, gj, ij, d.h, xj, xOff,
          lw.hs, lw.cs, t, lw.ig, lw.fg, lw.og, lw.gg, tanhAct, sigAct)
        t += 1
      }
      // Inter-layer inverted dropout (reference config.py:30,
      // LSTM_DROPOUT_PROB — PyTorch semantics: every layer's output
      // except the top's, train-time only): the layer above consumes
      // maskedH = h x (0 | 1/q), so E[maskedH] = h and inference runs
      // unscaled with dropP = 0. Masks come from the counter-based
      // [[dropKeep]], so the trajectory is bit-deterministic.
      if (dropP > 0.0 && j < d.nl - 1) {
        val q = 1.0 - dropP
        val sc = dropScale(j); val mh = dropH(j)
        var t2 = 0
        while (t2 < d.l) {
          var i = 0
          while (i < d.h) {
            val s = if (dropKeep(maskBase, stackId, j, t2, i, dropP)) 1.0 / q else 0.0
            sc(t2 * d.h + i) = s
            mh((t2 + 1) * d.h + i) = lw.hs((t2 + 1) * d.h + i) * s
            i += 1
          }
          t2 += 1
        }
      }
      j += 1
    }
  }

  /** Backward pass of one LSTM stack: `inject` supplies the external
    * d(loss)/d(h_t) for the TOP layer at each step (output-layer or
    * bottleneck gradients); lower layers receive the upper layer's input
    * grads through ws.dxBuf. For layer 0, per-step input grads go to
    * `dx0`/`dx0Stride` (null to skip — encoder data needs no grad).
    */
  private def stackBackward(p: Array[Double], grad: Array[Double], d: LstmDims,
                            layers: Array[LayerWs],
                            base: Int => Int, gate: Int => Int, in: Int => Int,
                            x0: Array[Double], x0Stride: Int,
                            inject: (Int, Array[Double]) => Unit,
                            injectTopOnlyLast: Boolean,
                            dx0: Array[Double], dx0Stride: Int, ws: Ws,
                            dropP: Double = 0.0,
                            dropH: Array[Array[Double]] = null,
                            dropScale: Array[Array[Double]] = null): Unit = {
    var j = d.nl - 1
    while (j >= 0) {
      val lw = layers(j)
      val top = j == d.nl - 1
      // This layer's incoming per-step dh: the injection (top layer) or
      // the upper layer's input grads (dxBuf, filled by the pass above).
      // dxBuf is consumed per step BEFORE this layer refills it for the
      // layer below, so one buffer serves the whole stack: at step t the
      // lower-bound rows [0, t] still hold the upper layer's values while
      // rows written by THIS layer are only read by the next (lower) pass.
      java.util.Arrays.fill(ws.dh, 0.0)
      java.util.Arrays.fill(ws.dc, 0.0)
      val bj = base(j); val gj = gate(j); val ij = in(j)
      // Under dropout, upper layers consumed the MASKED hidden rows in
      // forward, so their weight/input grads differentiate against the
      // same masked values (dropH filled by this window's forward).
      val xj =
        if (j == 0) x0
        else if (dropP > 0.0) dropH(j - 1)
        else layers(j - 1).hs
      // The upper layer's dxBuf grads are d(loss)/d(maskedH); chain the
      // mask: d(loss)/d(h) = scale x that (scale = 0 dropped, 1/q kept).
      val scj = if (dropP > 0.0 && !top) dropScale(j) else null
      var t = d.l - 1
      while (t >= 0) {
        if (top) {
          if (!injectTopOnlyLast || t == d.l - 1) inject(t, ws.dh)
        } else if (scj != null) {
          var i = 0
          while (i < d.h) {
            ws.dh(i) += ws.dxBuf(t * d.h + i) * scj(t * d.h + i); i += 1
          }
        } else {
          var i = 0
          while (i < d.h) { ws.dh(i) += ws.dxBuf(t * d.h + i); i += 1 }
        }
        // Upper layers write their input grads into dxBuf row t (zeroed
        // first — the row's previous value was already consumed above).
        if (j > 0) java.util.Arrays.fill(ws.dxBuf, t * d.h, (t + 1) * d.h, 0.0)
        if (j == 0)
          lstmBackStep(p, grad, bj, gj, ij, d.h, xj, t * x0Stride,
            lw.hs, lw.cs, t, lw.ig, lw.fg, lw.og, lw.gg,
            ws.dh, ws.dc, ws.dhP, ws.dcP, dx0,
            if (dx0 == null) 0 else t * dx0Stride, ws)
        else
          lstmBackStep(p, grad, bj, gj, ij, d.h, xj, (t + 1) * d.h,
            lw.hs, lw.cs, t, lw.ig, lw.fg, lw.og, lw.gg,
            ws.dh, ws.dc, ws.dhP, ws.dcP, ws.dxBuf, t * d.h, ws)
        val th = ws.dh; ws.dh = ws.dhP; ws.dhP = th
        val tc = ws.dc; ws.dc = ws.dcP; ws.dcP = tc
        t -= 1
      }
      j -= 1
    }
  }

  /** Forward pass over one flattened time-major window x (length l*f);
    * fills ws activations + ws.e and returns the mean squared
    * reconstruction error.
    */
  private def forwardLoss(p: Array[Double], x: Array[Double], d: LstmDims,
                          ws: Ws, dropP: Double = 0.0,
                          maskBase: Long = 0L,
                          tanhAct: Double => Double = null,
                          sigAct: Double => Double = null): Double = {
    import d._
    stackForward(p, d, ws.enc, encBase, encGate, encIn, x, f,
      dropP, maskBase, 0, ws.encDropH, ws.encScale, tanhAct, sigAct)
    val topEnc = ws.enc(nl - 1)
    var bi = 0
    while (bi < b) {
      var a = p(oBott + b * h + bi)
      var j = 0
      while (j < h) { a += p(oBott + bi * h + j) * topEnc.hs(l * h + j); j += 1 }
      // refDec: the reference's encoder_fc is LINEAR
      // (deep_learning_models.py:26,65); default keeps the bounded tanh.
      ws.cvec(bi) = if (refDec) a
                    else if (tanhAct eq null) math.tanh(a) else tanhAct(a)
      bi += 1
    }
    // refDec: inflate the code through decoder_fc to H and repeat THAT
    // as the decoder-LSTM input (deep_learning_models.py:30,72-74).
    val decX0 = if (refDec) {
      var i = 0
      while (i < h) {
        var a = p(oDecFc + h * b + i)
        var j = 0
        while (j < b) { a += p(oDecFc + i * b + j) * ws.cvec(j); j += 1 }
        ws.dvec(i) = a
        i += 1
      }
      ws.dvec
    } else ws.cvec
    stackForward(p, d, ws.dec, decBase, decGate, decIn, decX0, 0,
      dropP, maskBase, 1, ws.decDropH, ws.decScale, tanhAct, sigAct)
    val topDec = ws.dec(nl - 1)
    var loss = 0.0
    val n = l * f
    var t = 0
    while (t < l) {
      var fi = 0
      while (fi < f) {
        var a = p(oOut + f * h + fi)
        var i = 0
        while (i < h) { a += p(oOut + fi * h + i) * topDec.hs((t + 1) * h + i); i += 1 }
        val diff = a - x(t * f + fi)
        loss += diff * diff
        ws.e(t * f + fi) = 2.0 * diff / n
        fi += 1
      }
      t += 1
    }
    loss / n
  }

  /** Loss + full gradient (accumulated into `grad`, caller zeroes) for one
    * window — the unit the finite-difference spec checks. The dropout
    * overloads fix the mask via `maskBase`, so the dropped loss is a
    * deterministic differentiable function and the same FD check applies.
    */
  def lossAndGrad(p: Array[Double], x: Array[Double], d: LstmDims,
                  grad: Array[Double]): Double = lossAndGrad(p, x, d, grad, new Ws(d))

  def lossAndGrad(p: Array[Double], x: Array[Double], d: LstmDims,
                  grad: Array[Double], dropP: Double, maskBase: Long): Double =
    lossAndGrad(p, x, d, grad, new Ws(d), dropP, maskBase)

  /** Forward-only loss under a FIXED dropout mask — the FD check's f(p). */
  def lossWithDropout(p: Array[Double], x: Array[Double], d: LstmDims,
                      dropP: Double, maskBase: Long): Double =
    forwardLoss(p, x, d, new Ws(d), dropP, maskBase)

  private def lossAndGrad(p: Array[Double], x: Array[Double], d: LstmDims,
                          grad: Array[Double], ws: Ws, dropP: Double = 0.0,
                          maskBase: Long = 0L): Double = {
    import d._
    val loss = forwardLoss(p, x, d, ws, dropP, maskBase)
    java.util.Arrays.fill(ws.dcvec, 0.0)
    if (refDec) java.util.Arrays.fill(ws.ddvec, 0.0)
    // Decoder stack backward; the output layer's gradient is injected
    // into the top decoder layer at every step (and Wo/bo grads
    // accumulate on the same visit).
    val topDec = ws.dec(nl - 1)
    stackBackward(p, grad, d, ws.dec, decBase, decGate, decIn,
      if (refDec) ws.dvec else ws.cvec, 0,
      inject = (t, dh) => {
        var fi = 0
        while (fi < f) {
          val ef = ws.e(t * f + fi)
          var i = 0
          while (i < h) {
            grad(oOut + fi * h + i) += ef * topDec.hs((t + 1) * h + i)
            dh(i) += p(oOut + fi * h + i) * ef
            i += 1
          }
          grad(oOut + f * h + fi) += ef
          fi += 1
        }
      },
      injectTopOnlyLast = false,
      dx0 = if (refDec) ws.ddvec else ws.dcvec, dx0Stride = 0, ws = ws,
      dropP = dropP, dropH = ws.decDropH, dropScale = ws.decScale)
    // refDec: chain the decoder-input grads back through decoder_fc —
    // dcvec = Wd^T ddvec, accumulating Wd/bd grads on the visit.
    if (refDec) {
      var i = 0
      while (i < h) {
        val dv = ws.ddvec(i)
        var j = 0
        while (j < b) {
          grad(oDecFc + i * b + j) += dv * ws.cvec(j)
          ws.dcvec(j) += p(oDecFc + i * b + j) * dv
          j += 1
        }
        grad(oDecFc + h * b + i) += dv
        i += 1
      }
    }
    // Bottleneck backward -> d(loss)/d(top-encoder h_L), injected into
    // the top encoder layer at the LAST step only. Under refDec the
    // latent is linear, so the tanh' factor collapses to 1.
    val topEnc = ws.enc(nl - 1)
    val dhL = new Array[Double](h)
    var bi = 0
    while (bi < b) {
      val dcb =
        if (refDec) ws.dcvec(bi)
        else ws.dcvec(bi) * (1 - ws.cvec(bi) * ws.cvec(bi))
      var j = 0
      while (j < h) {
        grad(oBott + bi * h + j) += dcb * topEnc.hs(l * h + j)
        dhL(j) += p(oBott + bi * h + j) * dcb
        j += 1
      }
      grad(oBott + b * h + bi) += dcb
      bi += 1
    }
    stackBackward(p, grad, d, ws.enc, encBase, encGate, encIn, x, f,
      inject = (_, dh) => {
        var i = 0
        while (i < h) { dh(i) += dhL(i); i += 1 }
      },
      injectTopOnlyLast = true, dx0 = null, dx0Stride = 0, ws = ws,
      dropP = dropP, dropH = ws.encDropH, dropScale = ws.encScale)
    loss
  }

  /** Mean squared reconstruction error of one window (forward only). */
  def reconError(p: Array[Double], x: Array[Double], d: LstmDims): Double =
    forwardLoss(p, x, d, new Ws(d))

  /** [[reconError]] with pluggable activations — the `ts_lstm_forward`
    * fence runs the production forward loops under
    * ([[graft.operators.MlpAutoencoder.portableTanh]],
    * [[portableSigmoid]]) so the whole encoder→bottleneck→decoder→FC
    * inference arithmetic replays term-for-term in a DuckDB oracle.
    */
  def reconErrorWith(p: Array[Double], x: Array[Double], d: LstmDims,
                     tanhAct: Double => Double,
                     sigAct: Double => Double): Double =
    forwardLoss(p, x, d, new Ws(d), tanhAct = tanhAct, sigAct = sigAct)

  /** Forward-ONLY scoring of windowed sequences with FIXED parameters
    * (the MlpAutoencoder.scoreWith shape): model broadcast, one map
    * pass, no shuffle beyond the caller's windowing. With
    * `p = init(d, seed)` (0-epoch seeded weights) this is the
    * exact-oracle fence of the recurrent inference path — the
    * unverified surface of ts_lstm_recon shrinks to BPTT itself.
    */
  def scoreWith(seqs: DataFrame, seqCol: String, p: Array[Double],
                d: LstmDims,
                tanhAct: Double => Double = null,
                sigAct: Double => Double = null): DataFrame = {
    require(p.length == d.total,
      s"scoreWith: ${p.length} params, layout needs ${d.total}")
    DistributedSgd.withReconErr(seqs, seqCol, p)(p => { x =>
      require(x.length == d.l * d.f,
        s"scoreWith: window of ${x.length} values, need ${d.l * d.f}")
      reconErrorWith(p, x, d, tanhAct, sigAct)
    })
  }

  /** Train on the `seqCol` windows (array<double>, length d.l * d.f) via
    * the shared SGD + parameter-averaging harness. Inputs are expected
    * unit-scale (see the standardize note on [[detect]]). `clipNorm`
    * rescales each window's gradient to at most that global L2 norm —
    * the standard BPTT exploding-gradient guard, and deterministic (a
    * pure sequential function of the gradient).
    *
    * `optimizer="adam"` swaps the clipped-SGD update for the reference's
    * deterministic Adam (main.py:24; see [[DistributedSgd.Adam]] for the
    * per-epoch moment-state contract) — the clip factor pre-scales the
    * raw gradient exactly as the SGD path does. The returned parameters
    * are the BEST-LOSS epoch's, not the last's (reference main.py:44-56;
    * see the epochScorer note on [[DistributedSgd.fit]]).
    */
  def fit(seqs: DataFrame, seqCol: String, d: LstmDims,
          epochs: Int, lr: Double, seed: Long,
          clipNorm: Double = 5.0, optimizer: String = "sgd",
          dropout: Double = 0.0): Array[Double] = {
    require(optimizer == "sgd" || optimizer == "adam",
      s"optimizer must be 'sgd' or 'adam', got '$optimizer'")
    require(dropout >= 0.0 && dropout < 1.0,
      s"dropout=$dropout must be in [0, 1)")
    require(dropout == 0.0 || d.nl > 1,
      "inter-layer dropout needs nl >= 2 (PyTorch semantics: it applies " +
        "between stacked layers; a single layer has no boundary to drop)")
    DistributedSgd.fit(seqs, seqCol, epochs, init(d, seed), (ep, p, windows) => {
      val ws = new Ws(d)
      val grad = new Array[Double](d.total)
      val adam = if (optimizer == "adam") new DistributedSgd.Adam(d.total, lr) else null
      var wi = 0L
      windows.foreach { x =>
        java.util.Arrays.fill(grad, 0.0)
        // A fresh counter-based mask per (epoch, window) — the PyTorch
        // per-sample redraw, keyed instead of streamed so it is
        // deterministic under any executor scheduling.
        val mb = if (dropout > 0.0) dropMaskBase(seed, ep, wi) else 0L
        wi += 1
        lossAndGrad(p, x, d, grad, ws, dropout, mb)
        var nrm = 0.0
        var k = 0
        while (k < grad.length) { nrm += grad(k) * grad(k); k += 1 }
        nrm = math.sqrt(nrm)
        if (adam != null)
          adam.step(p, grad, if (nrm > clipNorm) clipNorm / nrm else 1.0)
        else {
          // Keep the historical expression tree exactly — (lr*clipNorm)/nrm,
          // not lr*(clipNorm/nrm): a 1-ulp step difference compounds through
          // the chaotic BPTT trajectory into a visibly different model.
          val scale = if (nrm > clipNorm) lr * clipNorm / nrm else lr
          k = 0
          while (k < p.length) { p(k) -= scale * grad(k); k += 1 }
        }
      }
      p
    },
    epochScorer = Some { p =>
      val ws = new Ws(d)
      x => forwardLoss(p, x, d, ws)
    })
  }

  /** Detector over the reference's literal (L, F) input (main.py:183-195:
    * LSTM input_dim = F): each step consumes that row's F-vector; windows
    * are flattened time-major so step t reads x[t*F..(t+1)*F) (see
    * [[TimeSeriesOps.featureWindows]]; one column is the univariate case).
    * Same surface and flagging contract as [[MlpAutoencoder.detect]]; see
    * there for the trainPartitions determinism<->parallelism trade, which
    * applies here unchanged. `nLayers` selects the stack depth (reference
    * config.py:29 sets 2; the default here stays 1 — the single-layer
    * model converges to the same flags on this workload at half the
    * BPTT cost, and the stacked path is spec-covered).
    *
    * Defaults (epochs=8, lr=0.1) were swept on the seeded-spike synthetic:
    * recurrent batch-1 SGD needs more passes than the MLP (3 epochs leaves
    * normal-window error too high for the 4x-mean flag), and lr >= 0.15
    * oscillates where 0.1 converges monotonically at 6/8/10 epochs.
    */
  def detect(df: DataFrame, keys: Seq[String], order: Seq[String],
             featureCols: Seq[String],
             seqLen: Int = GraftConfig.SequenceLength, hidden: Int = 8,
             bottleneck: Int = 4, epochs: Int = 8, lr: Double = 0.1,
             seed: Long = 42L, flagFactor: Double = 4.0,
             trainPartitions: Int = 8, nLayers: Int = 1,
             optimizer: String = "sgd", dropout: Double = 0.0,
             referenceDecoder: Boolean = false): DataFrame = {
    val d = LstmDims(featureCols.length, seqLen, hidden, bottleneck, nLayers,
      referenceDecoder)
    DistributedSgd.detect(df, keys, order, featureCols, seqLen,
      flagFactor, trainPartitions,
      fitOnCentered = train =>
        fit(train, "xc", d, epochs, lr, seed, optimizer = optimizer,
          dropout = dropout),
      scorer = p => {
        val ws = new Ws(d)
        xc => forwardLoss(p, xc, d, ws)
      },
      // Gated cells need unit-scale inputs: Xavier init assumes it, and
      // raw-magnitude data (e.g. +-5 sinusoids) saturates every sigmoid
      // at step one. Errors are in standardized units; flagging is
      // relative, so detection semantics are unchanged.
      standardize = true)
  }
}
