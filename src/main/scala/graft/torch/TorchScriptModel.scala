package graft.torch

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.ZipInputStream
import scala.collection.mutable

import Pickle._

/** One flattened forward-pass step (execution order, not registration
  * order — see [[TorchCode]]). */
sealed trait TorchOp extends Serializable

/** One dense layer: `y = x · Wᵀ + b`, weight row-major `(outDim, inDim)`. */
final case class LinearLayer(weight: Array[Float], bias: Array[Float], outDim: Int, inDim: Int)
    extends TorchOp

/** Elementwise activation: relu | sigmoid | tanh | gelu | silu. */
final case class ActOp(kind: String) extends TorchOp

/** Parameterized elementwise activation:
  * leaky_relu(a=slope) | elu(a=alpha) | hardtanh(a=min, b=max) |
  * softplus(a=beta, b=threshold). */
final case class ParamActOp(kind: String, a: Double, b: Double) extends TorchOp

/** Per-row (log-)softmax over the feature dim. */
final case class SoftmaxOp(log: Boolean) extends TorchOp

/** Per-feature affine `y = x*scale + shift` — eval-mode BatchNorm1d
  * folded at load time (scale = γ/√(σ²+ε), shift = β − μ·scale). */
final case class ScaleShiftOp(scale: Array[Float], shift: Array[Float]) extends TorchOp

/** Per-row layer normalization over the feature dim. */
final case class LayerNormOp(gamma: Array[Float], beta: Array[Float], eps: Double)
    extends TorchOp

/** Per-row RMS normalization over the feature dim — `nn.RMSNorm`
  * (the Llama/T5-family norm: no mean subtraction, no bias):
  * `y = x / sqrt(mean(x²) + eps) * gamma`. f64 internally, one f32
  * rounding per value. A None eps in the archive maps to torch's
  * run-time default `torch.finfo(float32).eps`. */
final case class RmsNormOp(gamma: Array[Float], eps: Double) extends TorchOp

/** Feature-halving gated linear unit — `nn.GLU(dim=-1)` on a flat
  * batch: split the feature dim in half, `y = a * sigmoid(b)`
  * (first half gates on the second). f64 sigmoid, one f32 rounding
  * per value; halves the live width. */
case object GluOp extends TorchOp

/** Embedding lookup + mean pool over a variable-length token-id row —
  * the fastText-classifier head (nn.EmbeddingBag mode='mean', or
  * nn.Embedding followed by `.mean(dim=1)`). Weight is row-major
  * `(vocab, embDim)`. `padIdx >= 0` excludes that token id from the
  * numerator AND denominator (nn.EmbeddingBag padding_idx semantics);
  * -1 pools over every position (nn.Embedding rows — including a
  * padding row, whose stored vector participates — divided by the full
  * length, torch's `.mean(1)`). Always the FIRST op: it consumes the
  * raw token input. */
final case class EmbeddingMeanOp(weight: Array[Float], vocab: Int, embDim: Int, padIdx: Int)
    extends TorchOp

/** Embedding lookup WITHOUT pooling: token row (L ids) -> `(L, embDim)`
  * sequence — the TextCNN head, where a transpose + Conv1d consumes the
  * sequence instead of a mean pool. Always the FIRST op. A traced
  * `nn.Embedding` + `.mean(dim=1)` pair is fused back to
  * [[EmbeddingMeanOp]] at load time (see `TorchScriptModel.fromBytes`),
  * so this op survives only when something other than a mean pool
  * consumes the sequence.
  *
  * `padIdx >= 0` turns on PADDED-BATCH mode (torch's
  * `key_padding_mask` convention): input rows are fixed-length with
  * trailing `padIdx` tokens, the executor derives each row's valid
  * length, attention softmaxes exclude pad KEY columns (`exp(-inf) =
  * 0`, exactly torch's `key_padding_mask=True` semantics — pad QUERY
  * rows are still computed, they just never reach a masked read-out),
  * RNNs run packed (recurrence stops at the valid length), and the
  * masked pool ops read only valid positions. Interior pads and
  * all-pad rows fail loudly — a padded batch is trailing-pad by
  * construction, anything else is caller error.
  *
  * THE PADDED-BATCH CONTRACT is UNPADDED-EQUIVALENT semantics: pads
  * exist only as a batching artifact, so every read-out returns what
  * the same row would produce run unpadded — the result torch users
  * get via `key_padding_mask` + `pack_padded_sequence` + a lengths
  * gather. This is an INTENTIONAL divergence from two literal traced
  * forms: `x[:, -1]` reads the last VALID position (torch's literal
  * select would read the pad row), and a plain `nn.GRU/LSTM` runs
  * PACKED (torch's literal unpacked RNN would recurse through pad
  * steps). Both are pinned by TorchCodeSpec's bit-identity goldens
  * (padded batch == unpadded rows). The one literal hold-out is
  * `.mean(dim=1)` ([[SeqMeanPoolOp]]): torch code that means over a
  * padded batch without a mask is averaging garbage and the engine
  * reproduces it faithfully; the masked read-out is the traced
  * `(x * mask).sum(1) / lengths` pattern ([[SeqMaskedMeanPoolOp]]). */
final case class EmbeddingSeqOp(weight: Array[Float], vocab: Int, embDim: Int,
    padIdx: Int = -1) extends TorchOp {
  require(padIdx < vocab, s"padIdx $padIdx outside vocab [0, $vocab)")
}

/** Learned positional embeddings added to the live `(L, emb)` sequence:
  * `y[t] = x[t] + P[t]` — `nn.Embedding(maxLen, emb)` indexed by
  * `torch.arange(L)`, the BERT-style position signal (sinusoidal
  * COMPUTED encodings are a different serialized-code shape and fail
  * loudly at load). Sequences longer than `maxLen` fail exactly like
  * torch's out-of-range embedding lookup. Sum in f64, one f32 rounding
  * per value at the op boundary. */
final case class PosEmbedOp(weight: Array[Float], maxLen: Int, embDim: Int)
    extends TorchOp

/** CLS pooling: `x[:, 0]` — position 0 of the `(L, emb)` sequence,
  * the classifier read-out of a BERT-style encoder whose tokenizer
  * PREPENDS a [CLS] token (the caller's contract, as in torch). Empty
  * sequence fails loudly (torch select on an empty dim errors). */
case object SeqClsPoolOp extends TorchOp

/** Last-token pooling: `x[:, -1]` — the final position of the
  * `(L, emb)` sequence, the classifier read-out of a GPT-style CAUSAL
  * decoder (only the last position has attended to the whole
  * sequence). Empty sequence fails loudly, like torch's select on an
  * empty dim.
  *
  * PADDED-BATCH mode reads the last VALID position (the
  * lengths-gather read-out), NOT the trailing pad row a literal torch
  * `x[:, -1]` would return — the engine's padded-batch contract is
  * UNPADDED-EQUIVALENT semantics (see [[EmbeddingSeqOp]]); pinned by
  * TorchCodeSpec's "padded rows == unpadded rows" goldens. */
case object SeqLastPoolOp extends TorchOp

/** `transpose(1, 2)`: `(L, emb)` <-> `(ch, L)` — the mandatory layout
  * flip between an embedding sequence and Conv1d's channel-major input. */
case object TransposeOp extends TorchOp

/** 1-D convolution over `(inCh, L)`: weight row-major
  * `(outCh, inCh/groups, k)`, stride >= 1, symmetric zero padding
  * `pad` (0 = valid; `2·pad == dilation·(k−1)` with stride 1 =
  * torch's `padding='same'` for odd kernels). `dilation >= 1` spaces
  * the kernel taps `dilation` positions apart (tap `j` reads input
  * `q·stride − pad + j·dilation`) — the TCN / dilated-TextCNN
  * receptive-field trick; effective kernel span is
  * `dilation·(k−1) + 1`. `groups` partitions
  * channels exactly like nn.Conv1d: output channel `o` (in group
  * `o / (outCh/groups)`) reads only that group's `inCh/groups` input
  * channels — `groups == inCh == outCh` is the depthwise conv of a
  * separable text-CNN block. Output
  * `(outCh, (L + 2p - dilation·(k−1) - 1)/stride + 1)`;
  * an input shorter than the effective kernel fails loudly, exactly
  * torch's output-size check. Accumulation stays float32 (the pinned
  * q113-era behavior the dyadic-weight oracles restate). */
final case class Conv1dOp(weight: Array[Float], bias: Array[Float],
    outCh: Int, inCh: Int, k: Int, stride: Int, pad: Int = 0,
    groups: Int = 1, dilation: Int = 1) extends TorchOp {
  require(pad >= 0, s"negative padding $pad")
  require(dilation >= 1, s"dilation $dilation invalid")
  require(groups >= 1 && inCh % groups == 0 && outCh % groups == 0,
    s"groups=$groups must divide in=$inCh and out=$outCh channels")
  require(weight.length == outCh * (inCh / groups) * k,
    s"Conv1d weight size ${weight.length}, expected ${outCh * (inCh / groups) * k}")
  /** Span of input positions one output value reads. */
  def kSpan: Int = dilation * (k - 1) + 1
}

/** Windowed max over the sequence dim of `(ch, L)` (nn.MaxPool1d,
  * padding 0, dilation 1, floor mode). */
final case class MaxPool1dOp(k: Int, stride: Int) extends TorchOp

/** Windowed average over the sequence dim of `(ch, L)` (nn.AvgPool1d,
  * padding 0, floor mode; torch default stride = kernel). f64
  * accumulation, one f32 rounding per output value (the
  * [[AvgPool2dOp]] discipline). */
final case class AvgPool1dOp(k: Int, stride: Int) extends TorchOp

/** `nn.ConstantPad1d((padL, padR), 0.0)` over `(ch, L)`: prepends
  * `padL` and appends `padR` exact-zero columns. The asymmetric
  * left-pad is the CAUSAL-conv idiom (pad `(span-1, 0)` before a
  * valid conv → output position q reads only inputs <= q — the TCN /
  * WaveNet shape). Zero value only: a nonzero constant fails at
  * trace. */
final case class Pad1dOp(padL: Int, padR: Int) extends TorchOp {
  require(padL >= 0 && padR >= 0, s"negative pad ($padL, $padR)")
}

/** `x[:, :, :-n]` on `(ch, L)` — the `Chomp1d` trim that pairs with a
  * symmetric-pad conv to restore causality (locuslab TCN): drops the
  * last `n` positions. Fails loudly when the live sequence is not
  * longer than `n`, exactly torch's empty-slice misuse. */
final case class Chomp1dOp(n: Int) extends TorchOp {
  require(n >= 1, s"chomp $n invalid")
}

/** 2-D convolution over `(inCh, H, W)` — the vision-classifier head
  * (the model consumes a PIXEL input instead of token ids; see
  * `TorchScriptModel.forwardImageBatch`). Weight row-major
  * `(outCh, inCh/groups, kh, kw)`, symmetric zero padding `pad` (0 =
  * valid; `2·pad == dilation·(k−1)` with stride 1 = torch's
  * `padding='same'` for odd kernels — the shape-preserving
  * ResNet-block form), stride >= 1. `dilation >= 1` (square) spaces
  * the kernel taps `dilation` pixels apart in BOTH axes — the
  * atrous-conv receptive-field trick; effective span is
  * `dilation·(k−1)+1` per axis. `groups` partitions the channels
  * exactly like nn.Conv2d: output channel `o` (in group
  * `o / (outCh/groups)`)
  * reads only that group's `inCh/groups` input channels —
  * `groups == inCh == outCh` is the DEPTHWISE conv of a
  * MobileNet-style separable block. Output
  * `(outCh, (H+2p−khSpan)/s+1, (W+2p−kwSpan)/s+1)`; an input smaller
  * than the effective kernel fails loudly, exactly torch's output-size
  * check. f64 accumulation, one f32 rounding per output value. */
final case class Conv2dOp(weight: Array[Float], bias: Array[Float],
    outCh: Int, inCh: Int, kh: Int, kw: Int, stride: Int, pad: Int = 0,
    groups: Int = 1, dilation: Int = 1) extends TorchOp {
  require(pad >= 0, s"negative padding $pad")
  require(dilation >= 1, s"dilation $dilation invalid")
  require(groups >= 1 && inCh % groups == 0 && outCh % groups == 0,
    s"groups=$groups must divide in=$inCh and out=$outCh channels")
  require(weight.length == outCh * (inCh / groups) * kh * kw,
    s"conv weight length ${weight.length} != $outCh x ${inCh / groups} x $kh x $kw")
  /** Effective kernel spans with dilation. */
  def khSpan: Int = dilation * (kh - 1) + 1
  def kwSpan: Int = dilation * (kw - 1) + 1
  /** Does this conv map (H, W) to itself? (same padding, unit stride) */
  def shapePreserving: Boolean = stride == 1 && 2 * pad == khSpan - 1 && kh == kw
}

/** A fused residual block over the `(ch, H, W)` image phase:
  * `y = x + stages(x)` — the ResNet basic-block pattern
  * (conv→BN→relu→conv→BN + identity shortcut). Every stage must
  * preserve shape (same-padded unit-stride convs, channel affines,
  * activations) and the block must map its channel count to itself, so
  * the elementwise add is well-formed at ANY input size. The stages
  * run through the normal per-op executor (each rounding to f32 at its
  * boundary, exactly as they would unfused); the residual add is one
  * more f32 add. */
final case class ResBlock2dOp(stages: IndexedSeq[TorchOp]) extends TorchOp {
  require(stages.nonEmpty, "empty residual block")
  val ch: Int = stages.collectFirst { case c: Conv2dOp => c.inCh }
    .getOrElse(sys.error("residual block with no convolution"))
  locally {
    var width = ch
    for (s <- stages) s match {
      case c: Conv2dOp =>
        require(c.shapePreserving,
          s"residual-block conv must preserve shape (k=${c.kh}, pad=${c.pad}, " +
            s"stride=${c.stride})")
        require(c.inCh == width, s"conv(in=${c.inCh}) applied to $width channels")
        width = c.outCh
      case ca: ChannelAffineOp =>
        require(ca.scale.length == width,
          s"BatchNorm2d(${ca.scale.length}) applied to $width channels")
      case _: ActOp | _: ParamActOp => // elementwise
      case other => sys.error(
        s"${other.getClass.getSimpleName} cannot appear inside a residual block")
    }
    require(width == ch,
      s"residual block must map $ch channels to itself (got $width); " +
        "projection shortcuts are out of surface")
  }
}

/** Windowed 2-D max pool over `(ch, H, W)` (nn.MaxPool2d, padding 0,
  * dilation 1, floor mode; square kernel). */
final case class MaxPool2dOp(k: Int, stride: Int) extends TorchOp

/** Windowed 2-D average pool (nn.AvgPool2d, padding 0, floor mode;
  * square kernel; torch's default stride = kernel). */
final case class AvgPool2dOp(k: Int, stride: Int) extends TorchOp

/** Per-CHANNEL affine over a channel-major tensor — eval-mode
  * BatchNorm2d on `(ch, H, W)` or BatchNorm1d on `(ch, L)`, folded at
  * load exactly like the flat-input [[ScaleShiftOp]]
  * (scale = γ/√(σ²+ε), shift = β − μ·scale). */
final case class ChannelAffineOp(scale: Array[Float], shift: Array[Float]) extends TorchOp

/** Global 2-D pool `(ch, H, W)` -> `(ch)` (AdaptiveMaxPool2d(1) /
  * AdaptiveAvgPool2d(1) + flatten). */
final case class GlobalPool2dOp(max: Boolean) extends TorchOp

/** Single-head scaled-dot-product self-attention over a `(L, emb)`
  * embedding sequence — the transformer-encoder text-classifier shape
  * (Q = X·Wq^T+bq, K/V likewise; A = softmax(Q·K^T·scale) row-wise;
  * output A·V, `(L, dim)`). Weights row-major `(dim, inDim)`. All math
  * runs in float64 internally with ONE rounding to float32 per output
  * value at the op boundary, so the only drift vs a float64 oracle fed
  * the same (dyadic-exact) scores is that final rounding. An empty
  * sequence never reaches here (the following mean pool would be 0/0
  * anyway); softmax over a length-L row is well-defined for L >= 1.
  * `causal = true` is the DECODER form: position `a` attends only to
  * positions `<= a` (the additive `-inf` upper-triangular mask of a
  * GPT-style block, which zeroes those softmax terms exactly — the
  * masked entries never enter the max-shift or the normalizer, the
  * same arithmetic torch's `scores + mask` produces).
  *
  * `bias` is the GENERAL additive attention mask (torch's `attn_mask`
  * / a traced `scores + self.bias[:L, :L]` buffer that is NOT the
  * exact causal pattern): a square `(biasRows, biasRows)` matrix whose
  * entry `(a, b)` is added to the SCALED score of query position `a`
  * against key position `b` — exactly torch's
  * `softmax(q·kᵀ·scale + mask)`. Finite entries are relative position
  * biases (the ALiBi `-slope·(a-b)` recipe); `-inf` entries remove the
  * pair from max-shift and normalizer exactly (banded/local attention
  * windows). Batches are capped at `biasRows` positions (the same
  * contract as a positional table: the buffer IS the model's maximum
  * length). A query row whose every visible key is `-inf`-masked is an
  * ERROR for valid rows (torch would return NaN — no traced
  * classifier means that) and yields zeros for pad query rows `>=
  * keyLim`, which a masked read-out discards anyway. `causal` and
  * `bias` compose (both masks apply), though a trace sets at most one:
  * an exactly-causal buffer becomes the `causal` flag, never a bias.
  *
  * `ropeCos`/`ropeSin` (set together) are rotary position embeddings
  * (Su et al. 2021 — the Llama/RoFormer encoding) applied to the
  * PROJECTED q and k before their dot product:
  * `rope(x)_p = x_p·cos_p + rotate_half(x_p)·sin_p` with
  * `rotate_half([x1, x2]) = [-x2, x1]` over the head-dim halves. The
  * `(ropeLen, dim)` tables hold the serialized f32 buffer values
  * (never recomputed trig — the sinusoidal-PE discipline); batches
  * cap at `ropeLen` positions. */
final case class SelfAttentionOp(
    wq: Array[Float], bq: Array[Float],
    wk: Array[Float], bk: Array[Float],
    wv: Array[Float], bv: Array[Float],
    dim: Int, inDim: Int, scale: Double,
    causal: Boolean = false,
    bias: Option[Array[Float]] = None,
    biasRows: Int = 0,
    ropeCos: Option[Array[Float]] = None,
    ropeSin: Option[Array[Float]] = None,
    ropeLen: Int = 0) extends TorchOp {
  bias.foreach { m =>
    require(biasRows >= 1 && m.length == biasRows * biasRows,
      s"attention bias ${m.length} values != $biasRows^2 (square (L, L) only)")
    require(m.forall(v => !v.isNaN && v < Float.PositiveInfinity),
      "attention bias entries must be finite or -inf")
  }
  require(ropeCos.isDefined == ropeSin.isDefined,
    "RoPE needs both cos and sin tables")
  ropeCos.foreach { c =>
    require(dim % 2 == 0, s"RoPE rotate_half on an odd head dim $dim")
    require(ropeLen >= 1 && c.length == ropeLen * dim &&
      ropeSin.get.length == ropeLen * dim,
      s"RoPE tables (${c.length}, ${ropeSin.get.length} values) != " +
        s"$ropeLen x $dim")
  }

  /** True when the bias table is CAUSAL-BANDED: every ABOVE-diagonal
    * entry (query a attending a FUTURE key b > a) is `-inf`. Such a
    * mask is causal in structure — ALiBi's `-slope·(a-b)` prior and a
    * causal sliding window are the serving shapes — so a grown
    * sequence never changes already-computed positions: row `a` reads
    * only keys `<= a` and its bias entries depend only on the absolute
    * pair (a, b), exactly like the hard `causal` flag. That makes the
    * head KV-CACHEABLE ([[TorchScriptModel.cacheable]]): `-inf`
    * entries contribute `exp(-inf) = 0` exactly to the batch path's
    * softmax, so skipping them (the session's `keys 0..pos` loop) is
    * bit-identical. A SYMMETRIC window (Longformer-style, finite
    * entries at b > a) is genuinely NOT causal — appending a token
    * would change earlier outputs — and correctly fails this test. */
  lazy val biasCausalBanded: Boolean = bias.exists { m =>
    var a = 0
    var ok = true
    while (ok && a < biasRows) {
      var b = a + 1
      while (ok && b < biasRows) {
        if (m(a * biasRows + b) != Float.NegativeInfinity) ok = false
        b += 1
      }
      a += 1
    }
    ok
  }
}

/** `nn.MultiheadAttention`'s packed-projection layout split into the
  * per-head [[SelfAttentionOp]]s the interpreter runs: `in_proj_weight`
  * stacks the full Q, K, V projections as a `(3E, E)` matrix (rows
  * `[0,E)` = Wq, `[E,2E)` = Wk, `[2E,3E)` = Wv — torch.nn.activation
  * MultiheadAttention docs), and head `h` owns rows `[h·hd, (h+1)·hd)`
  * of each projection (torch reshapes the projected `(L, E)` into
  * `(L, H, hd)`, so consecutive output rows belong to consecutive
  * heads). Scores scale by `1/sqrt(hd)`; the concatenated heads go
  * through `out_proj`. Shared by the tracer and programmatic model
  * construction. */
object Mha {
  def split(inProjW: Array[Float], inProjB: Array[Float],
      embed: Int, numHeads: Int): IndexedSeq[SelfAttentionOp] = {
    require(inProjW.length == 3 * embed * embed,
      s"in_proj_weight size ${inProjW.length}, expected ${3 * embed * embed}")
    require(inProjB.length == 3 * embed, s"in_proj_bias size ${inProjB.length}")
    require(numHeads >= 1 && embed % numHeads == 0,
      s"embed_dim $embed not divisible by num_heads $numHeads")
    val hd = embed / numHeads
    def rows(proj: Int, h: Int): Array[Float] =
      java.util.Arrays.copyOfRange(inProjW,
        (proj * embed + h * hd) * embed, (proj * embed + (h + 1) * hd) * embed)
    def bias(proj: Int, h: Int): Array[Float] =
      java.util.Arrays.copyOfRange(inProjB, proj * embed + h * hd,
        proj * embed + (h + 1) * hd)
    (0 until numHeads).map(h => SelfAttentionOp(
      rows(0, h), bias(0, h), rows(1, h), bias(1, h), rows(2, h), bias(2, h),
      dim = hd, inDim = embed, scale = 1.0 / math.sqrt(hd.toDouble)))
  }

  /** GROUPED-QUERY attention split (Ainslie et al. 2023 — the
    * Llama-2-70B/Mistral kv-sharing layout): `numHeads` query heads
    * each read their `hd = embed/numHeads` rows of the `(E, E)` query
    * projection, but the key/value projections carry only
    * `numKvHeads` head-groups — `kvW` is the packed
    * `(2·numKvHeads·hd, E)` k-then-v matrix — and query head `h`
    * borrows kv group `h·numKvHeads/numHeads`. Runtime semantics are
    * EXACTLY an MHA whose kv heads repeat group-size times (torch
    * materializes this as `repeat_interleave` on k/v before the
    * per-head attention), so each returned head carries its group's
    * k/v weights verbatim and the unchanged executor IS the GQA
    * computation. (The layout's production win — a KV cache
    * `numHeads/numKvHeads`× smaller on a generation server — has no
    * analogue in whole-sequence batch scoring; what matters here is
    * loading and running the checkpoints that ship this shape.) */
  def splitGqa(qProjW: Array[Float], qProjB: Array[Float],
      kvProjW: Array[Float], kvProjB: Array[Float],
      embed: Int, numHeads: Int, numKvHeads: Int): IndexedSeq[SelfAttentionOp] = {
    require(numHeads >= 1 && embed % numHeads == 0,
      s"embed_dim $embed not divisible by num_heads $numHeads")
    require(numKvHeads >= 1 && numHeads % numKvHeads == 0,
      s"num_heads $numHeads not divisible by num_kv_heads $numKvHeads " +
        s"(every kv group must serve the same number of query heads)")
    val hd = embed / numHeads
    require(qProjW.length == embed * embed,
      s"q_proj size ${qProjW.length}, expected ${embed * embed}")
    require(qProjB.length == embed, s"q_proj bias size ${qProjB.length}")
    require(kvProjW.length == 2 * numKvHeads * hd * embed,
      s"kv_proj size ${kvProjW.length}, expected ${2 * numKvHeads * hd * embed}")
    require(kvProjB.length == 2 * numKvHeads * hd,
      s"kv_proj bias size ${kvProjB.length}")
    def qRows(h: Int): Array[Float] =
      java.util.Arrays.copyOfRange(qProjW, h * hd * embed, (h + 1) * hd * embed)
    def kvRows(leg: Int, g: Int): Array[Float] =
      java.util.Arrays.copyOfRange(kvProjW,
        (leg * numKvHeads + g) * hd * embed, (leg * numKvHeads + g + 1) * hd * embed)
    def kvBias(leg: Int, g: Int): Array[Float] =
      java.util.Arrays.copyOfRange(kvProjB,
        (leg * numKvHeads + g) * hd, (leg * numKvHeads + g + 1) * hd)
    val group = numHeads / numKvHeads
    (0 until numHeads).map { h =>
      val g = h / group
      SelfAttentionOp(
        qRows(h), java.util.Arrays.copyOfRange(qProjB, h * hd, (h + 1) * hd),
        kvRows(0, g), kvBias(0, g), kvRows(1, g), kvBias(1, g),
        dim = hd, inDim = embed, scale = 1.0 / math.sqrt(hd.toDouble))
    }
  }
}

/** Single-layer unidirectional batch-first recurrent cell (`kind` =
  * "gru" | "lstm") over a `(L, emb)` embedding sequence, returning the
  * FINAL hidden state `h_L` — the recurrent text-classifier head
  * (`out, h_n = self.gru(x)` … `fc(h_n.squeeze(0))`). Weights use
  * torch's packed layout: `wIh` is `(gates·H, inDim)` row-major, `wHh`
  * `(gates·H, H)`, biases `(gates·H)`; gate order r,z,n for GRU and
  * i,f,g,o for LSTM (torch.nn.GRU / torch.nn.LSTM docs). The
  * recurrence runs in float64 from the exact float32 weights with ONE
  * rounding to float32 per output value at the op boundary (the
  * [[SelfAttentionOp]] discipline), so the only drift vs a float64
  * oracle is that final rounding plus cross-libm exp/tanh ulps.
  * `h_0 = c_0 = 0` (torch's default when hx is None); an empty
  * sequence yields `h_0` = the zero vector, exactly as torch does.
  * Like the pool ops, this COLLAPSES the sequence phase: everything
  * after it runs on flat `(n, H)` batches.
  *
  * `stack` holds the weights of layers 1..num_layers-1 of a STACKED
  * RNN (`nn.GRU(..., num_layers = k)`): each consumes the full
  * `(L, H)` hidden sequence of the layer below (torch's layering),
  * so their `wIh` is `(gates·H, H)`. The classifier reads the TOP
  * layer's final hidden state — `h_n[-1]`, the only multi-layer
  * read-out with a home here. Inter-layer values stay float64
  * (mirroring the single-layer discipline: torch itself rounds each
  * layer's output to f32 — that drift is part of the gap budget the
  * per-model specs pin).
  *
  * `rev` (non-empty = BIDIRECTIONAL, `nn.GRU(..., bidirectional =
  * True)`) holds the reverse-direction weights (torch's
  * `weight_ih_l0_reverse` etc.), one entry per layer: `rev(0)` pairs
  * with the inline layer-0 weights, `rev(k)` with `stack(k-1)`. Each
  * layer runs its forward cell over positions `0..L-1` and its
  * reverse cell over `L-1..0`; a stacked layer consumes the
  * position-wise concat `(L, 2H)` of the layer below (so stacked
  * `wIh` is `(gates·H, 2H)` when bidi). The classifier read-out is
  * `cat(h_n[-2], h_n[-1])` — forward top-layer final hidden (after
  * position L-1) ++ reverse top-layer final hidden (after position
  * 0) — width `2H` (torch's output convention for bidirectional
  * `h_n`).
  *
  * `seqPool = Some("mean")` switches the read-out from the final
  * hidden state to the MEAN over the full top-layer output sequence
  * (`out.mean(dim=1)` on the `(n, L, H·dirs)` output) — the sentence
  * -encoder consumption of `out` rather than `h_n`; width is
  * unchanged (`H·dirs`), the average runs in f64 position order. */
final case class RnnOp(kind: String, wIh: Array[Float], wHh: Array[Float],
    bIh: Array[Float], bHh: Array[Float], hidden: Int, inDim: Int,
    stack: IndexedSeq[RnnStackLayer] = IndexedSeq.empty,
    rev: IndexedSeq[RnnStackLayer] = IndexedSeq.empty,
    seqPool: Option[String] = None) extends TorchOp {
  require(kind == "gru" || kind == "lstm", s"unsupported RNN kind $kind")
  val gates: Int = if (kind == "lstm") 4 else 3
  def bidi: Boolean = rev.nonEmpty
  /** feature width this op emits: H, doubled by bidirectionality. */
  def outWidth: Int = if (bidi) 2 * hidden else hidden
  require(wIh.length == gates * hidden * inDim, s"$kind wIh size ${wIh.length}")
  require(wHh.length == gates * hidden * hidden, s"$kind wHh size ${wHh.length}")
  require(bIh.length == gates * hidden && bHh.length == gates * hidden,
    s"$kind bias sizes ${bIh.length}/${bHh.length}")
  // a stacked layer's input is the layer below's full output: H, or 2H bidi
  private val stackIn = if (bidi) 2 * hidden else hidden
  for (l <- stack) {
    require(l.wIh.length == gates * hidden * stackIn,
      s"$kind stacked-layer wIh size ${l.wIh.length} (input is the $stackIn-dim " +
        "output of the layer below)")
    require(l.wHh.length == gates * hidden * hidden, s"$kind stacked wHh size")
    require(l.bIh.length == gates * hidden && l.bHh.length == gates * hidden,
      s"$kind stacked bias sizes")
  }
  require(rev.isEmpty || rev.length == 1 + stack.length,
    s"$kind bidirectional needs reverse weights for every layer: " +
      s"${rev.length} vs ${1 + stack.length}")
  for ((l, li) <- rev.zipWithIndex) {
    val in = if (li == 0) inDim else stackIn
    require(l.wIh.length == gates * hidden * in,
      s"$kind reverse layer-$li wIh size ${l.wIh.length} (expected ${gates * hidden * in})")
    require(l.wHh.length == gates * hidden * hidden, s"$kind reverse wHh size")
    require(l.bIh.length == gates * hidden && l.bHh.length == gates * hidden,
      s"$kind reverse bias sizes")
  }
  require(seqPool.forall(_ == "mean"), s"unsupported RNN sequence pool $seqPool")
  def numLayers: Int = 1 + stack.length
}

/** Weights of one stacked-RNN layer past the first (torch's
  * `weight_ih_l{k}` / `weight_hh_l{k}` / biases, packed gate order). */
final case class RnnStackLayer(wIh: Array[Float], wHh: Array[Float],
    bIh: Array[Float], bHh: Array[Float])

/** Full encoder-style self-attention over a `(L, emb)` sequence:
  * independent per-head scaled-dot attentions (the hand-rolled
  * multi-head pattern — separate Q/K/V Linears per head, outputs
  * `cat`-ed on the feature dim), an optional position-wise output
  * projection, and an optional residual add of the block INPUT.
  * `heads.map(_.dim).sum` is the concat width; with `proj` the output
  * width is `proj.outDim`; `residual` requires output width == inDim.
  * All math in float64 with ONE float32 rounding per output value at
  * the op boundary. A 1-head, no-proj, no-residual instance is exactly
  * [[SelfAttentionOp]] (which the tracer still emits for that shape,
  * keeping q122-era op lists stable). */
final case class EncoderAttnOp(heads: IndexedSeq[SelfAttentionOp],
    proj: Option[LinearLayer], residual: Boolean) extends TorchOp {
  require(heads.nonEmpty, "attention needs at least one head")
  require(heads.forall(_.inDim == heads.head.inDim), "heads disagree on input dim")
  require(heads.forall(_.causal == heads.head.causal),
    "heads disagree on causal masking (one traced mask must cover every head)")
  require(heads.forall(h => h.bias.isDefined == heads.head.bias.isDefined),
    "heads disagree on the additive attention bias (one traced mask must " +
      "cover every head)")
  val inDim: Int = heads.head.inDim
  val catDim: Int = heads.map(_.dim).sum
  val outDim: Int = proj.map(_.outDim).getOrElse(catDim)
  proj.foreach(p => require(p.inDim == catDim,
    s"out-proj(in=${p.inDim}) applied to $catDim concatenated head dims"))
  require(!residual || outDim == inDim,
    s"residual add needs outDim == inDim ($outDim vs $inDim)")
}

/** ENCODER-DECODER CROSS-ATTENTION over TWO live sequences (the
  * T5/BART decoder-block form the reference runs via libtorch,
  * reference src/udf.rs:127): queries project from the MAIN `(Lq, E)`
  * sequence, keys and values from the model's ENCODER leg output
  * `(Lk, E)` ([[TorchScriptModel.encOps]], computed once per row and
  * shared by every cross op). Per-head math is exactly
  * [[SelfAttentionOp]]'s scaled-dot attention with the k/v projections
  * reading the encoder sequence — each of the `Lq` query positions
  * softmaxes over all `Lk` encoder positions (no causal order exists
  * between the two sequences, so `causal`/`bias`/RoPE have no home
  * here and the constructor rejects them). Heads concatenate, the
  * optional out-projection applies position-wise, and `residual` adds
  * the MAIN block input (the decoder-side residual). f64 internally,
  * ONE f32 rounding per output value at the op boundary. */
final case class CrossAttnOp(heads: IndexedSeq[SelfAttentionOp],
    proj: Option[LinearLayer], residual: Boolean) extends TorchOp {
  require(heads.nonEmpty, "cross-attention needs at least one head")
  require(heads.forall(_.inDim == heads.head.inDim), "heads disagree on input dim")
  require(heads.forall(h => !h.causal),
    "causal masking is meaningless across two unordered sequences")
  require(heads.forall(h => h.bias.isEmpty),
    "a position-indexed attention bias has no home across two sequences")
  require(heads.forall(h => h.ropeCos.isEmpty),
    "RoPE on cross-attention unsupported (positions are not shared)")
  val inDim: Int = heads.head.inDim
  val catDim: Int = heads.map(_.dim).sum
  val outDim: Int = proj.map(_.outDim).getOrElse(catDim)
  proj.foreach(p => require(p.inDim == catDim,
    s"out-proj(in=${p.inDim}) applied to $catDim concatenated head dims"))
  require(!residual || outDim == inDim,
    s"residual add needs outDim == inDim ($outDim vs $inDim)")
}

/** ATTENTION-POOLING read-out (`nn.MultiheadAttention(latent, x, x)`
  * with a LEARNED `(m, E)` latent query array — the Set-Transformer
  * PMA / CoCa attentional-pooler shape, and this engine's cross-
  * attention form: query comes from a different source than key and
  * value). Each latent row attends over the live `(L, E)` sequence
  * (keys capped at the valid length on padded batches), heads are the
  * usual per-head `Mha.split` projections, concatenated and passed
  * through `out_proj` per latent row. COLLAPSES the sequence phase:
  * output is the flattened `(m·E)` vector. f64 internally, one f32
  * rounding per output value (the [[SelfAttentionOp]] discipline).
  * The latent-side Q projection is input-independent — q vectors
  * depend only on model weights — so scores stay exactly
  * reproducible from the weights (the q162 oracle inlines them as
  * literals). */
final case class AttnPoolOp(latent: Array[Float], m: Int,
    heads: IndexedSeq[SelfAttentionOp], inDim: Int,
    proj: Option[LinearLayer]) extends TorchOp {
  require(m >= 1 && latent.length == m * inDim,
    s"latent query array ${latent.length} != $m x $inDim")
  require(heads.nonEmpty, "attention pooling needs at least one head")
  require(heads.forall(_.inDim == inDim), "heads disagree on input dim")
  require(heads.forall(h => !h.causal),
    "causal masking is meaningless for a latent-query pool")
  require(heads.forall(h => h.bias.isEmpty),
    "a position-indexed attention bias is meaningless for a latent-query " +
      "pool (latent rows are not sequence positions)")
  val catDim: Int = heads.map(_.dim).sum
  require(catDim == inDim, s"concatenated head dims $catDim != embed $inDim")
  proj.foreach(p => require(p.inDim == catDim && p.outDim == catDim,
    s"out-proj(${p.inDim}->${p.outDim}) must map $catDim to itself"))
  val outWidth: Int = m * inDim
}

/** Per-POSITION layer normalization over the feature dim of a
  * `(L, emb)` sequence — `nn.LayerNorm(emb)` applied to the live
  * sequence inside an encoder block (the flat-input form is
  * [[LayerNormOp]]). f64 internally, one rounding per value. */
final case class SeqLayerNormOp(gamma: Array[Float], beta: Array[Float], eps: Double)
    extends TorchOp

/** Per-POSITION RMS normalization over the feature dim of a
  * `(L, emb)` sequence — `nn.RMSNorm(emb)` applied to the live
  * sequence (the Llama pre-norm; flat-input form is [[RmsNormOp]]).
  * f64 internally, one rounding per value. */
final case class SeqRmsNormOp(gamma: Array[Float], eps: Double) extends TorchOp

/** Per-POSITION gated linear unit over the feature dim of a
  * `(L, emb)` sequence — `nn.GLU(dim=-1)`: `(L, 2h)` -> `(L, h)`,
  * `y = a * sigmoid(b)`. Purely per-position (pad rows of a padded
  * batch pass through untouched-by-neighbors, like every other
  * elementwise seq op). */
case object SeqGluOp extends TorchOp

/** Position-wise feed-forward `y = l2(act(l1(x))) [+ x]` over a
  * `(L, emb)` sequence — the FFN half of a transformer encoder block,
  * fused so the residual has a home in the linear op chain. f64
  * internally, one rounding per output value. */
final case class PosFfnOp(l1: LinearLayer, act: String, l2: LinearLayer,
    residual: Boolean) extends TorchOp {
  require(l2.inDim == l1.outDim, s"FFN shape ${l1.outDim} -> ${l2.inDim} broken")
  require(!residual || l2.outDim == l1.inDim,
    s"residual add needs l2.outDim == l1.inDim (${l2.outDim} vs ${l1.inDim})")
}

/** Global max over the sequence dim: `(ch, L)` -> `(ch)` — the
  * AdaptiveMaxPool1d(1) + flatten pair of a TextCNN. */
case object SeqMaxPoolOp extends TorchOp

/** Global mean over the sequence dim: `(ch, L)` -> `(ch)`
  * (AdaptiveAvgPool1d(1) + flatten). Empty sequence -> NaN (0/0),
  * like torch's mean over an empty dim. */
case object SeqAvgPoolOp extends TorchOp

/** Mean pool over the POSITION dim of a `(L, emb)` embedding sequence
  * -> `(emb)` — `.mean(dim=1)` when it could NOT be fused into
  * [[EmbeddingMeanOp]] (never the case today; kept for completeness of
  * the seq-phase op set). Empty sequence -> NaN. With a padded batch
  * this is torch's literal `.mean(dim=1)` — pad QUERY rows (computed,
  * garbage-attending-over-valid-keys) ARE averaged in, faithfully. */
case object SeqMeanPoolOp extends TorchOp

/** MASKED mean pool over the position dim of a padded `(L, emb)`
  * sequence -> `(emb)`: mean over the VALID positions only — the
  * standard sentence-encoder read-out
  * `(x * mask).sum(1) / lengths.unsqueeze(-1)`. Requires the model
  * head to run in padded-batch mode ([[EmbeddingSeqOp]] `padIdx`);
  * with trailing-pad inputs the result is bit-identical to running
  * the unpadded sequence through [[SeqMeanPoolOp]]. */
case object SeqMaskedMeanPoolOp extends TorchOp

/**
 * A TorchScript MLP loaded from a `torch.jit.save` archive, executed on
 * the JVM with a plain float GEMM (no libtorch).
 *
 * `ops` is the flat EXECUTION-order op list traced from the archive's
 * own serialized `forward()` code (see [[TorchCode]] — registration
 * order is not execution order; the reference model registers one
 * shared ReLU after all three Linears). Supported surface: Linear,
 * ReLU, Sigmoid, Tanh, GELU, Softmax, LogSoftmax, Identity/Dropout/
 * Flatten (eval no-ops), Sequential/ModuleList nesting, shared/reused
 * submodules. Anything else fails loudly at load time, in the same
 * spirit as the reference's narrow type dispatch
 * (reference src/udf.rs:59-64).
 */
final class TorchScriptModel(val ops: IndexedSeq[TorchOp],
    val encOps: IndexedSeq[TorchOp] = IndexedSeq.empty) extends Serializable {
  /** Cross-attention models carry a second, ENCODER op list: a
    * token-sequence leg (embedding head + position-preserving seq ops,
    * NO pool) whose `(Lk, E)` output every [[CrossAttnOp]] in the main
    * list attends over. Computed once per input pair, shared across
    * cross ops — exactly how a T5/BART decoder reuses one encoder
    * output across its layers. */
  val isCross: Boolean = ops.exists(_.isInstanceOf[CrossAttnOp])
  require(isCross == encOps.nonEmpty,
    if (isCross) "cross-attention op without an encoder op list"
    else "encoder op list without a cross-attention consumer")
  val encHead: Option[EmbeddingSeqOp] =
    encOps.headOption.map {
      case e: EmbeddingSeqOp => e
      case other => sys.error(s"encoder leg must start with a token embedding, " +
        s"got ${other.getClass.getSimpleName}")
    }
  /** Feature width of the encoder leg's `(Lk, ·)` output — validated by
    * the same symbolic walk as the main sequence phase, restricted to
    * position-preserving `(L, emb)` ops (the leg must NOT pool: its
    * whole output sequence is the cross-attention key/value side). */
  val encOutDim: Int = encHead match {
    case None => -1
    case Some(e) =>
      var width = e.embDim
      for (op <- encOps.drop(1)) op match {
        case a: EncoderAttnOp =>
          require(width == a.inDim,
            s"encoder-leg attention(in=${a.inDim}) applied to $width features")
          width = a.outDim
        case f: PosFfnOp =>
          require(f.l1.inDim == width,
            s"encoder-leg FFN(in=${f.l1.inDim}) applied to $width features")
          width = f.l2.outDim
        case ln: SeqLayerNormOp =>
          require(ln.gamma.length == width,
            s"encoder-leg LayerNorm(${ln.gamma.length}) applied to $width features")
        case rn: SeqRmsNormOp =>
          require(rn.gamma.length == width,
            s"encoder-leg RMSNorm(${rn.gamma.length}) applied to $width features")
        case pe: PosEmbedOp =>
          require(pe.embDim == width,
            s"encoder-leg positional dim ${pe.embDim} applied to $width features")
        case _: ActOp | _: ParamActOp => // elementwise
        case other => sys.error("encoder leg supports position-preserving " +
          s"(L, emb) ops only, got ${other.getClass.getSimpleName}")
      }
      width
  }
  for (ca <- ops.collect { case c: CrossAttnOp => c })
    require(ca.inDim == encOutDim,
      s"cross-attention k/v projections read ${ca.inDim}-dim input but the " +
        s"encoder leg emits $encOutDim (mixed widths unsupported)")

  /** Token-input (fastText-shape) models start with the embedding pool. */
  val embedHead: Option[EmbeddingMeanOp] =
    ops.headOption.collect { case e: EmbeddingMeanOp => e }
  /** Token-input SEQUENCE models (TextCNN shape) start with the
    * unpooled embedding; a pool op later collapses to a flat vector. */
  val seqHead: Option[EmbeddingSeqOp] =
    ops.headOption.collect { case e: EmbeddingSeqOp => e }
  require(!ops.drop(1).exists(o =>
      o.isInstanceOf[EmbeddingMeanOp] || o.isInstanceOf[EmbeddingSeqOp]),
    "embedding must be the first op (it consumes the raw token input)")
  /** Linear layers in execution order (first occurrence for shared). */
  val layers: IndexedSeq[LinearLayer] = ops.collect { case l: LinearLayer => l }
  require(layers.nonEmpty || embedHead.isDefined || seqHead.isDefined,
    "model has no linear layers")

  /** For seq-head models: index of the pool op ending the sequence
    * phase, and the flat width it produces — validated by walking the
    * symbolic layout exactly like the load-time trace, so directly
    * constructed op lists (no archive) get the same shape checks. */
  private val (poolIdx: Int, pooledDim: Int) = seqHead match {
    case None => (-1, -1)
    case Some(e) =>
      var mode = 0 // 0 = (L, emb), 1 = (ch, L), 2 = flat (pooled)
      var width = e.embDim
      var pool = -1
      for ((op, i) <- ops.zipWithIndex.drop(1)) op match {
        case TransposeOp =>
          require(mode < 2, "transpose after the pool op")
          require(e.padIdx < 0, "key-padding through the transposed (ch, L) " +
            "conv path unsupported — positions must stay addressable for the mask")
          mode = 1 - mode
        case c: Conv1dOp =>
          require(mode == 1, "Conv1d needs (n, ch, seq) input: transpose(1, 2) missing")
          require(width == c.inCh, s"Conv1d(in=${c.inCh}) applied to $width channels")
          width = c.outCh
        case MaxPool1dOp(_, _) =>
          require(mode == 1, "MaxPool1d needs (n, ch, seq) input")
        case AvgPool1dOp(_, _) =>
          require(mode == 1, "AvgPool1d needs (n, ch, seq) input")
        case _: Pad1dOp | _: Chomp1dOp =>
          require(mode == 1, "pad/chomp need (n, ch, seq) input")
        case ca: ChannelAffineOp =>
          require(mode == 1, "BatchNorm1d on a sequence needs the (n, ch, seq) layout")
          require(ca.scale.length == width,
            s"BatchNorm1d(${ca.scale.length}) applied to $width channels")
        case a: SelfAttentionOp =>
          require(mode == 0, "self-attention needs the (n, seq, emb) embedding output")
          require(width == a.inDim,
            s"attention(in=${a.inDim}) applied to $width features")
          width = a.dim
        case a: EncoderAttnOp =>
          require(mode == 0, "encoder attention needs the (n, seq, emb) embedding output")
          require(width == a.inDim,
            s"encoder attention(in=${a.inDim}) applied to $width features")
          width = a.outDim
        case ca: CrossAttnOp =>
          require(mode == 0, "cross-attention needs the (n, seq, emb) embedding output")
          require(width == ca.inDim,
            s"cross-attention(in=${ca.inDim}) applied to $width features")
          width = ca.outDim
        case ln: SeqLayerNormOp =>
          require(mode == 0, "sequence LayerNorm needs the (n, seq, emb) layout")
          require(ln.gamma.length == width,
            s"LayerNorm(${ln.gamma.length}) applied to $width features")
        case rn: SeqRmsNormOp =>
          require(mode == 0, "sequence RMSNorm needs the (n, seq, emb) layout")
          require(rn.gamma.length == width,
            s"RMSNorm(${rn.gamma.length}) applied to $width features")
        case SeqGluOp =>
          require(mode == 0, "sequence GLU needs the (n, seq, emb) layout")
          require(width % 2 == 0, s"GLU on an odd feature width $width")
          width /= 2
        case f: PosFfnOp =>
          require(mode == 0, "position-wise FFN needs the (n, seq, emb) layout")
          require(f.l1.inDim == width,
            s"FFN(in=${f.l1.inDim}) applied to $width features")
          width = f.l2.outDim
        case SeqMaxPoolOp | SeqAvgPoolOp =>
          require(mode == 1, "adaptive pool needs (n, ch, seq) input")
          require(pool < 0, "second pool op after the sequence already collapsed")
          mode = 2; pool = i
        case pe: PosEmbedOp =>
          require(mode == 0, "positional embeddings need the (n, seq, emb) layout")
          require(pe.embDim == width,
            s"positional embedding dim ${pe.embDim} applied to $width features")
        case SeqMeanPoolOp =>
          require(mode == 0, "mean(dim=1) needs the (n, seq, emb) embedding output")
          require(pool < 0, "second pool op after the sequence already collapsed")
          mode = 2; pool = i
        case SeqMaskedMeanPoolOp =>
          require(mode == 0, "masked mean pool needs the (n, seq, emb) layout")
          require(pool < 0, "second pool op after the sequence already collapsed")
          require(e.padIdx >= 0,
            "masked mean pool needs a padded-batch head (EmbeddingSeqOp padIdx)")
          mode = 2; pool = i
        case SeqClsPoolOp | SeqLastPoolOp =>
          require(mode == 0, "CLS/last-token pooling needs the (n, seq, emb) layout")
          require(pool < 0, "second pool op after the sequence already collapsed")
          mode = 2; pool = i
        case ap: AttnPoolOp =>
          require(mode == 0, "attention pooling needs the (n, seq, emb) layout")
          require(width == ap.inDim,
            s"attention pool(in=${ap.inDim}) applied to $width features")
          require(pool < 0, "second pool op after the sequence already collapsed")
          mode = 2; pool = i; width = ap.outWidth
        case r: RnnOp =>
          require(mode == 0,
            s"${r.kind.toUpperCase} needs the (n, seq, emb) embedding output")
          require(width == r.inDim,
            s"${r.kind.toUpperCase}(input_size=${r.inDim}) applied to $width features")
          require(pool < 0, "second pool op after the sequence already collapsed")
          mode = 2; pool = i; width = r.outWidth
        case _: ActOp | _: ParamActOp => // elementwise: fine in any phase
        case other =>
          require(mode == 2,
            s"${other.getClass.getSimpleName} on an unpooled sequence (pool op missing)")
      }
      require(pool >= 0,
        "sequence model never pools to a fixed-size vector (adaptive pool / mean missing)")
      (pool, width)
  }

  /** The fewest tokens a sequence-head row needs: a shorter row leaves
    * a conv or pool kernel no window (torch's output-size check), so
    * [[Torch.inferBatched]] reads it as null. 0 when no op shortens the
    * sequence. Conv, pool, pad and chomp all act on the `(ch, L)`
    * layout's length axis (checked above). */
  lazy val minSeqTokens: Int = {
    def lenAfter(l0: Int): Int = ops.slice(1, poolIdx).foldLeft(l0) {
      case (l, _) if l < 0 => l
      case (l, cv: Conv1dOp) =>
        if (l + 2 * cv.pad >= cv.kSpan) (l + 2 * cv.pad - cv.kSpan) / cv.stride + 1 else -1
      case (l, MaxPool1dOp(k, s)) => if (l >= k) (l - k) / s + 1 else -1
      case (l, AvgPool1dOp(k, s)) => if (l >= k) (l - k) / s + 1 else -1
      case (l, Pad1dOp(a, b)) => l + a + b
      case (l, Chomp1dOp(c)) => if (l > c) l - c else -1
      case (l, _) => l
    }
    if (poolIdx < 0) 0 else Iterator.from(0).find(lenAfter(_) >= 0).get
  }

  /** PIXEL-input (vision) models start with a 2-D convolution that
    * consumes the raw `(inCh, H, W)` image — use
    * [[forwardImageBatch]]. */
  val imageHead: Option[Conv2dOp] =
    ops.headOption.collect { case c: Conv2dOp => c }
  require(!ops.drop(1).exists(_.isInstanceOf[Conv2dOp]) || imageHead.isDefined,
    "Conv2d must be part of the image phase (it consumes the pixel input)")

  /** Image-phase walker (mirrors the seq-phase one): index of the
    * global pool collapsing `(ch, H, W)` to `(ch)`, and that width. */
  private val (imgPoolIdx: Int, imgPooledDim: Int) = imageHead match {
    case None => (-1, -1)
    case Some(c0) =>
      var width = c0.outCh
      var pool = -1
      for ((op, i) <- ops.zipWithIndex.drop(1)) op match {
        case c: Conv2dOp =>
          require(pool < 0, "Conv2d after the global pool")
          require(width == c.inCh, s"Conv2d(in=${c.inCh}) applied to $width channels")
          width = c.outCh
        case _: MaxPool2dOp =>
          require(pool < 0, "MaxPool2d after the global pool")
        case _: AvgPool2dOp =>
          require(pool < 0, "AvgPool2d after the global pool")
        case rb: ResBlock2dOp =>
          require(pool < 0, "residual block after the global pool")
          require(rb.ch == width,
            s"residual block over ${rb.ch} channels applied to $width")
        case ca: ChannelAffineOp =>
          require(pool < 0, "BatchNorm2d after the global pool")
          require(ca.scale.length == width,
            s"BatchNorm2d(${ca.scale.length}) applied to $width channels")
        case GlobalPool2dOp(_) =>
          require(pool < 0, "second global pool")
          pool = i
        case _: ActOp | _: ParamActOp => // elementwise: fine in any phase
        case other =>
          require(pool >= 0,
            s"${other.getClass.getSimpleName} on an unpooled (ch, H, W) image " +
              "(global pool missing)")
      }
      require(pool >= 0,
        "image model never pools to a fixed-size vector (adaptive 2-D pool missing)")
      (pool, width)
  }

  /** -1 for token-input models: the input is a VARIABLE-length token-id
    * row, not a fixed feature vector — use [[forwardTokens]]. */
  val inDim: Int =
    if (embedHead.isDefined || seqHead.isDefined || imageHead.isDefined) -1
    else layers.head.inDim
  val outDim: Int = layers.lastOption.map(_.outDim)
    .orElse(embedHead.map(_.embDim)).getOrElse(pooledDim)

  /** Single-row forward. */
  def forward(x: Array[Float]): Array[Float] = forwardBatch(x, 1)

  /** Single token-id row through an embedding-head model. */
  def forwardTokens(tokens: Array[Int]): Array[Float] = forwardTokensBatch(Array(tokens))

  /**
   * Batched token-input forward: each row is looked up + mean-pooled
   * into `embDim` features (accumulated in f64, one rounding at the
   * end), then the remaining ops run as one `n × embDim` batch. Rows
   * may differ in length — pooling is per-row, so the GEMM batch shape
   * is unaffected. An out-of-range id fails loudly (torch throws the
   * same way); an empty row pools to what torch yields for that head —
   * a ZERO vector for EmbeddingBag(mode=mean) with an all-padding bag,
   * NaN (0/0) for Embedding(...).mean(dim=1) over zero tokens.
   */
  def forwardTokensBatch(rows: Array[Array[Int]]): Array[Float] = {
    if (seqHead.isDefined) return forwardSeqBatch(rows)
    val e = embedHead.getOrElse(
      sys.error("not a token-input model: use forwardBatch"))
    val n = rows.length
    val pooled = new Array[Float](n * e.embDim)
    var i = 0
    while (i < n) {
      val toks = rows(i)
      val acc = new Array[Double](e.embDim)
      var cnt = 0
      var t = 0
      while (t < toks.length) {
        val id = toks(t)
        require(id >= 0 && id < e.vocab, s"token id $id out of range [0, ${e.vocab})")
        if (id != e.padIdx) {
          val off = id * e.embDim
          var j = 0
          while (j < e.embDim) { acc(j) += e.weight(off + j); j += 1 }
          cnt += 1
        }
        t += 1
      }
      // empty-row semantics differ per head: EmbeddingBag(mode=mean)
      // leaves its zero-initialized sum and skips the divide when no
      // non-padding token exists (torch yields a ZERO vector), while
      // Embedding(...).mean(dim=1) over zero tokens is 0/0 = NaN
      val denom = if (e.padIdx >= 0) cnt else toks.length
      val empty: Float = if (e.padIdx >= 0) 0.0f else Float.NaN
      var j = 0
      while (j < e.embDim) {
        pooled(i * e.embDim + j) =
          if (denom == 0) empty else (acc(j) / denom).toFloat
        j += 1
      }
      i += 1
    }
    runOps(1, pooled, n, e.embDim)
  }

  /**
   * Batched forward: `x` is `n × inDim` row-major; returns `n × outDim`
   * row-major — mirrors the reference's batch GEMM shape
   * (reference src/udf.rs:211-213, 277).
   */
  /**
   * Batched pixel-input forward: each row is one `(c, h, w)` image,
   * channel-major row-major floats (already normalized — the caller
   * owns the `/255` convention). The image phase (conv/pool) runs
   * per row into the `imgPooledDim` vector; the flat tail then runs
   * as one batched GEMM, same discipline as the token paths.
   */
  def forwardImageBatch(rows: Array[Array[Float]], c: Int, h: Int, w: Int): Array[Float] = {
    require(imageHead.isDefined, "not a pixel-input model: use forwardBatch")
    require(c == imageHead.get.inCh,
      s"model expects ${imageHead.get.inCh} channels, got $c")
    val n = rows.length
    val pooled = new Array[Float](n * imgPooledDim)
    var i = 0
    while (i < n) {
      require(rows(i).length == c * h * w,
        s"row $i: ${rows(i).length} values != $c x $h x $w")
      System.arraycopy(runImageRow(rows(i), c, h, w), 0, pooled, i * imgPooledDim, imgPooledDim)
      i += 1
    }
    runOps(imgPoolIdx + 1, pooled, n, imgPooledDim)
  }

  /** One image through ops[0..imgPoolIdx]: the tensor is `(ch, H, W)`
    * channel-major row-major; collapses to `(imgPooledDim)` at the
    * global pool. Conv accumulation in f64, one f32 rounding per
    * output value. */
  private def runImageRow(px: Array[Float], c0: Int, h0: Int, w0: Int): Array[Float] = {
    var ch = c0
    var hh = h0
    var ww = w0
    var data = px
    var oi = 0
    while (oi < imgPoolIdx) {
      ops(oi) match {
        case blk: ResBlock2dOp =>
          // run the stages through the same per-op executor, then add
          // the block input elementwise (shapes equal by construction)
          var sData = data
          var sCh = ch
          var sH = hh
          var sW = ww
          for (st <- blk.stages) {
            val r = applyImageOp(st, sData, sCh, sH, sW, borrowed = sData eq data)
            sData = r._1; sCh = r._2; sH = r._3; sW = r._4
          }
          require(sCh == ch && sH == hh && sW == ww, "residual shape drift") // ctor forbids
          val out = new Array[Float](data.length)
          var i = 0
          while (i < out.length) { out(i) = data(i) + sData(i); i += 1 }
          data = out
        case op =>
          val r = applyImageOp(op, data, ch, hh, ww, borrowed = data eq px)
          data = r._1; ch = r._2; hh = r._3; ww = r._4
      }
      oi += 1
    }
    val plane = hh * ww
    ops(imgPoolIdx) match {
      case GlobalPool2dOp(max) =>
        Array.tabulate(ch) { d =>
          if (max) {
            var mx = Float.NegativeInfinity
            var q = 0
            while (q < plane) { val v = data(d * plane + q); if (v > mx) mx = v; q += 1 }
            mx
          } else {
            var acc = 0.0
            var q = 0
            while (q < plane) { acc += data(d * plane + q); q += 1 }
            (acc / plane).toFloat
          }
        }
      case other => sys.error(s"unexpected image pool op $other")
    }
  }

  /** One image-phase op over a `(ch, H, W)` channel-major tensor.
    * `borrowed` = the buffer belongs to the caller (the raw input or a
    * residual block\'s shared input) and must be copied before any
    * in-place mutation. Returns (data, ch, H, W). */
  private def applyImageOp(op: TorchOp, in: Array[Float], ch: Int, hh: Int, ww: Int,
      borrowed: Boolean): (Array[Float], Int, Int, Int) = {
    var data = in
    op match {
      case cv: Conv2dOp =>
        require(hh + 2 * cv.pad >= cv.khSpan && ww + 2 * cv.pad >= cv.kwSpan,
          s"Conv2d(${cv.kh}x${cv.kw}, dilation=${cv.dilation}, pad=${cv.pad}) " +
            s"on a ${hh}x$ww image (too small)")
        val oh = (hh + 2 * cv.pad - cv.khSpan) / cv.stride + 1
        val ow = (ww + 2 * cv.pad - cv.kwSpan) / cv.stride + 1
        val out = new Array[Float](cv.outCh * oh * ow)
        // grouped channel ranges (nn.Conv2d): output channel oc reads
        // input channels [g*icg, (g+1)*icg) of its group only; weight
        // rows are (outCh, icg, kh, kw)
        val icg = cv.inCh / cv.groups
        val ocg = cv.outCh / cv.groups
        var oc = 0
        while (oc < cv.outCh) {
          val dBase = (oc / ocg) * icg
          var i = 0
          while (i < oh) {
            var j = 0
            while (j < ow) {
              var acc: Double = cv.bias(oc)
              var dg = 0
              while (dg < icg) {
                val d = dBase + dg
                var r = 0
                while (r < cv.kh) {
                  val y = i * cv.stride + r * cv.dilation - cv.pad
                  if (y >= 0 && y < hh) {
                    val wOff = ((oc * icg + dg) * cv.kh + r) * cv.kw
                    var q = 0
                    while (q < cv.kw) {
                      val x = j * cv.stride + q * cv.dilation - cv.pad
                      if (x >= 0 && x < ww)
                        acc += cv.weight(wOff + q) * data(d * hh * ww + y * ww + x)
                      q += 1
                    }
                  }
                  r += 1
                }
                dg += 1
              }
              out((oc * oh + i) * ow + j) = acc.toFloat
              j += 1
            }
            i += 1
          }
          oc += 1
        }
        (out, cv.outCh, oh, ow)
      case MaxPool2dOp(k, stride) =>
        require(hh >= k && ww >= k, s"MaxPool2d($k) on a ${hh}x$ww image")
        val oh = (hh - k) / stride + 1
        val ow = (ww - k) / stride + 1
        val out = new Array[Float](ch * oh * ow)
        var d = 0
        while (d < ch) {
          var i = 0
          while (i < oh) {
            var j = 0
            while (j < ow) {
              var mx = Float.NegativeInfinity
              var r = 0
              while (r < k) {
                var q = 0
                while (q < k) {
                  val v = data(d * hh * ww + (i * stride + r) * ww + j * stride + q)
                  if (v > mx) mx = v
                  q += 1
                }
                r += 1
              }
              out((d * oh + i) * ow + j) = mx
              j += 1
            }
            i += 1
          }
          d += 1
        }
        (out, ch, oh, ow)
      case AvgPool2dOp(k, stride) =>
        require(hh >= k && ww >= k, s"AvgPool2d($k) on a ${hh}x$ww image")
        val oh = (hh - k) / stride + 1
        val ow = (ww - k) / stride + 1
        val out = new Array[Float](ch * oh * ow)
        var d = 0
        while (d < ch) {
          var i = 0
          while (i < oh) {
            var j = 0
            while (j < ow) {
              var acc = 0.0
              var r = 0
              while (r < k) {
                var q = 0
                while (q < k) {
                  acc += data(d * hh * ww + (i * stride + r) * ww + j * stride + q)
                  q += 1
                }
                r += 1
              }
              out((d * oh + i) * ow + j) = (acc / (k * k)).toFloat
              j += 1
            }
            i += 1
          }
          d += 1
        }
        (out, ch, oh, ow)
      case ChannelAffineOp(scale, shift) =>
        if (borrowed) data = in.clone()
        val plane0 = hh * ww
        var d = 0
        while (d < ch) {
          var q = 0
          while (q < plane0) {
            val idx = d * plane0 + q
            data(idx) = data(idx) * scale(d) + shift(d)
            q += 1
          }
          d += 1
        }
        (data, ch, hh, ww)
      case ActOp(kind) =>
        if (borrowed) data = in.clone()
        applyAct(data, kind)
        (data, ch, hh, ww)
      case ParamActOp(kind, a, b) =>
        if (borrowed) data = in.clone()
        applyParamAct(data, kind, a, b)
        (data, ch, hh, ww)
      case other => sys.error(s"unexpected image-phase op $other") // walker forbids
    }
  }

  def forwardBatch(x: Array[Float], n: Int): Array[Float] = {
    require(embedHead.isEmpty && seqHead.isEmpty && imageHead.isEmpty,
      "token-input / pixel-input model: use forwardTokensBatch / forwardImageBatch")
    require(x.length == n * inDim, s"expected $n x $inDim = ${n * inDim} values, got ${x.length}")
    runOps(0, x, n, inDim)
  }

  /** Sequence-head (TextCNN) batch: each token row runs the per-row
    * sequence phase (lookup -> transpose -> conv -> pool) into a fixed
    * `pooledDim` vector; the flat tail then runs as one batched GEMM,
    * same shape discipline as the fused embedding path. Rows shorter
    * than a conv/pool kernel fail loudly, exactly like torch's
    * output-size check. */
  /** One (query-side, key-side) token-row pair through a
    * cross-attention model. */
  def forwardTokensPair(q: Array[Int], k: Array[Int]): Array[Float] =
    forwardTokensPairBatch(Array(q), Array(k))

  /** Batched two-sequence forward for CROSS-ATTENTION models: row i's
    * key-side tokens run the encoder leg once into `(Lk, E)`, the
    * query-side tokens run the main sequence phase attending over it,
    * and the flat tail runs as one batched GEMM — the same
    * shape discipline as [[forwardSeqBatch]]. */
  def forwardTokensPairBatch(qRows: Array[Array[Int]],
      kRows: Array[Array[Int]]): Array[Float] = {
    require(isCross, "not a cross-attention model: use forwardTokensBatch")
    require(qRows.length == kRows.length,
      s"query/key batch sizes differ (${qRows.length} vs ${kRows.length})")
    val n = qRows.length
    val pooled = new Array[Float](n * pooledDim)
    var i = 0
    while (i < n) {
      val (enc, encL) = runEncRow(kRows(i))
      System.arraycopy(runSeqRow(qRows(i), enc, encL), 0,
        pooled, i * pooledDim, pooledDim)
      i += 1
    }
    runOps(poolIdx + 1, pooled, n, pooledDim)
  }

  private def forwardSeqBatch(rows: Array[Array[Int]]): Array[Float] = {
    require(!isCross,
      "cross-attention model needs two inputs: use forwardTokensPairBatch")
    val n = rows.length
    val pooled = new Array[Float](n * pooledDim)
    var i = 0
    while (i < n) {
      System.arraycopy(runSeqRow(rows(i)), 0, pooled, i * pooledDim, pooledDim)
      i += 1
    }
    runOps(poolIdx + 1, pooled, n, pooledDim)
  }

  /** Raw embedding lookup: token ids -> `(L, emb)` row-major floats. */
  private def embedLookup(e: EmbeddingSeqOp, toks: Array[Int]): Array[Float] = {
    val data = new Array[Float](toks.length * e.embDim)
    var p = 0
    while (p < toks.length) {
      val id = toks(p)
      require(id >= 0 && id < e.vocab, s"token id $id out of range [0, ${e.vocab})")
      System.arraycopy(e.weight, id * e.embDim, data, p * e.embDim, e.embDim)
      p += 1
    }
    data
  }

  /** Padded-batch mode: the valid length is the prefix before the
    * trailing padIdx run; interior pads / all-pad rows are caller
    * error and fail loudly (a key_padding_mask is trailing-pad by
    * batch construction). Heads without a padIdx: the full length. */
  private def validLen(e: EmbeddingSeqOp, toks: Array[Int]): Int = {
    var valid = toks.length
    if (e.padIdx >= 0) {
      while (valid > 0 && toks(valid - 1) == e.padIdx) valid -= 1
      require(valid > 0, "all-pad token row (no valid positions)")
      var v0 = 0
      while (v0 < valid) {
        require(toks(v0) != e.padIdx,
          s"interior pad token at position $v0 (pads must be a trailing run)")
        v0 += 1
      }
    }
    valid
  }

  /** The position-preserving sequence phase `opList(from until until)`
    * over ONE row's buffer: the current tensor is a `rows × cols`
    * row-major matrix — `(L, emb)` after the lookup, `(ch, L)` after a
    * transpose. Shared by the main op list (runSeqRow, which then
    * applies the pool op) and the encoder leg of a cross-attention
    * model (runEncRow, which returns the whole sequence). `enc`/`encL`
    * carry the precomputed encoder output a [[CrossAttnOp]] attends
    * over (null for non-cross models and inside the enc leg itself). */
  private def seqPhase(opList: IndexedSeq[TorchOp], from: Int, until: Int,
      data0: Array[Float], rows0: Int, cols0: Int, valid: Int,
      enc: Array[Float], encL: Int): (Array[Float], Int, Int) = {
    var rows = rows0
    var cols = cols0
    var data = data0
    var oi = from
    while (oi < until) {
      opList(oi) match {
        case ca: CrossAttnOp =>
          // decoder-side block: q from the live (Lq, E) sequence, k/v
          // from the shared encoder output (encL, E); heads in f64,
          // concat, optional proj, optional MAIN-input residual, ONE
          // rounding per output value (the EncoderAttnOp discipline)
          require(enc != null, "cross-attention op with no encoder output")
          val L = rows
          val headOuts = ca.heads.map(h =>
            attnHeadF64(h, data, L, cols, encL, kvData = enc, kvL = encL))
          val cat = new Array[Double](L * ca.catDim)
          var p = 0
          while (p < L) {
            var off = 0
            for ((h, ho) <- ca.heads.zip(headOuts)) {
              var j = 0
              while (j < h.dim) { cat(p * ca.catDim + off + j) = ho(p * h.dim + j); j += 1 }
              off += h.dim
            }
            p += 1
          }
          val projed = ca.proj match {
            case None => cat
            case Some(l) =>
              val o = new Array[Double](L * l.outDim)
              var p1 = 0
              while (p1 < L) {
                var t = 0
                while (t < l.outDim) {
                  var acc: Double = l.bias(t)
                  var j = 0
                  while (j < l.inDim) { acc += cat(p1 * l.inDim + j) * l.weight(t * l.inDim + j); j += 1 }
                  o(p1 * l.outDim + t) = acc
                  t += 1
                }
                p1 += 1
              }
              o
          }
          val out = new Array[Float](L * ca.outDim)
          var i1 = 0
          while (i1 < out.length) {
            val r0 = if (ca.residual) data(i1).toDouble else 0.0
            out(i1) = (projed(i1) + r0).toFloat
            i1 += 1
          }
          data = out
          cols = ca.outDim
        case TransposeOp =>
          val out = new Array[Float](rows * cols)
          var r = 0
          while (r < rows) {
            var c = 0
            while (c < cols) { out(c * rows + r) = data(r * cols + c); c += 1 }
            r += 1
          }
          data = out
          val t = rows; rows = cols; cols = t
        case cv: Conv1dOp =>
          require(cols + 2 * cv.pad >= cv.kSpan,
            s"Conv1d(kernel=${cv.k}, dilation=${cv.dilation}, pad=${cv.pad}) " +
              s"on a length-$cols sequence " +
              s"(need >= ${cv.kSpan - 2 * cv.pad} tokens)")
          val lout = (cols + 2 * cv.pad - cv.kSpan) / cv.stride + 1
          val icg = cv.inCh / cv.groups
          val ocg = cv.outCh / cv.groups
          val out = new Array[Float](cv.outCh * lout)
          var c = 0
          while (c < cv.outCh) {
            val g = c / ocg
            var q = 0
            while (q < lout) {
              var acc = cv.bias(c)
              val base = q * cv.stride - cv.pad
              var d = 0
              while (d < icg) {
                val wOff = (c * icg + d) * cv.k
                val xRow = (g * icg + d) * cols
                var j = 0
                while (j < cv.k) {
                  val xi = base + j * cv.dilation
                  if (xi >= 0 && xi < cols)
                    acc += cv.weight(wOff + j) * data(xRow + xi)
                  j += 1
                }
                d += 1
              }
              out(c * lout + q) = acc
              q += 1
            }
            c += 1
          }
          data = out
          rows = cv.outCh; cols = lout
        case Pad1dOp(padL, padR) =>
          val lout = cols + padL + padR
          val out = new Array[Float](rows * lout) // zero-initialized
          var r = 0
          while (r < rows) {
            System.arraycopy(data, r * cols, out, r * lout + padL, cols)
            r += 1
          }
          data = out
          cols = lout
        case Chomp1dOp(nc) =>
          require(cols > nc,
            s"Chomp1d($nc) on a length-$cols sequence (nothing left)")
          val lout = cols - nc
          val out = new Array[Float](rows * lout)
          var r = 0
          while (r < rows) {
            System.arraycopy(data, r * cols, out, r * lout, lout)
            r += 1
          }
          data = out
          cols = lout
        case MaxPool1dOp(k, stride) =>
          require(cols >= k,
            s"MaxPool1d(kernel=$k) on a length-$cols sequence")
          val lout = (cols - k) / stride + 1
          val out = new Array[Float](rows * lout)
          var r = 0
          while (r < rows) {
            var q = 0
            while (q < lout) {
              var mx = Float.NegativeInfinity
              var j = 0
              while (j < k) {
                val v = data(r * cols + q * stride + j)
                if (v > mx) mx = v
                j += 1
              }
              out(r * lout + q) = mx
              q += 1
            }
            r += 1
          }
          data = out
          cols = lout
        case AvgPool1dOp(k, stride) =>
          require(cols >= k,
            s"AvgPool1d(kernel=$k) on a length-$cols sequence")
          val lout = (cols - k) / stride + 1
          val out = new Array[Float](rows * lout)
          var r = 0
          while (r < rows) {
            var q = 0
            while (q < lout) {
              var acc = 0.0
              var j = 0
              while (j < k) { acc += data(r * cols + q * stride + j); j += 1 }
              out(r * lout + q) = (acc / k).toFloat
              q += 1
            }
            r += 1
          }
          data = out
          cols = lout
        case at: SelfAttentionOp =>
          // (L, inDim) -> (L, dim); f64 internally, one float rounding
          // per output value at the end
          val o64 = attnHeadF64(at, data, rows, cols, valid)
          val out = new Array[Float](o64.length)
          var i0 = 0
          while (i0 < o64.length) { out(i0) = o64(i0).toFloat; i0 += 1 }
          data = out
          cols = at.dim
        case ea: EncoderAttnOp =>
          // heads in f64 -> concat -> optional position-wise proj ->
          // optional residual (the f32 block input, exact in f64) ->
          // ONE rounding per output value
          val L = rows
          val headOuts = ea.heads.map(h => attnHeadF64(h, data, L, cols, valid))
          val cat = new Array[Double](L * ea.catDim)
          var p = 0
          while (p < L) {
            var off = 0
            for ((h, ho) <- ea.heads.zip(headOuts)) {
              var j = 0
              while (j < h.dim) { cat(p * ea.catDim + off + j) = ho(p * h.dim + j); j += 1 }
              off += h.dim
            }
            p += 1
          }
          val projed = ea.proj match {
            case None => cat
            case Some(l) =>
              val o = new Array[Double](L * l.outDim)
              var p1 = 0
              while (p1 < L) {
                var t = 0
                while (t < l.outDim) {
                  var acc: Double = l.bias(t)
                  var j = 0
                  while (j < l.inDim) { acc += cat(p1 * l.inDim + j) * l.weight(t * l.inDim + j); j += 1 }
                  o(p1 * l.outDim + t) = acc
                  t += 1
                }
                p1 += 1
              }
              o
          }
          val out = new Array[Float](L * ea.outDim)
          var i1 = 0
          while (i1 < out.length) {
            val r0 = if (ea.residual) data(i1).toDouble else 0.0
            out(i1) = (projed(i1) + r0).toFloat
            i1 += 1
          }
          data = out
          cols = ea.outDim
        case SeqLayerNormOp(gamma, beta, eps) =>
          // per-position LN over the feature dim, biased variance
          // (torch layer_norm); f64, one rounding per value
          var r0 = 0
          while (r0 < rows) {
            val off = r0 * cols
            var mean = 0.0
            var j = 0
            while (j < cols) { mean += data(off + j); j += 1 }
            mean /= cols
            var va = 0.0
            j = 0
            while (j < cols) { val d0 = data(off + j) - mean; va += d0 * d0; j += 1 }
            va /= cols
            val inv = 1.0 / math.sqrt(va + eps)
            j = 0
            while (j < cols) {
              data(off + j) = (((data(off + j) - mean) * inv) * gamma(j) + beta(j)).toFloat
              j += 1
            }
            r0 += 1
          }
        case SeqRmsNormOp(gamma, eps) =>
          // per-position RMSNorm: x / sqrt(mean(x²) + eps) * gamma;
          // f64, one rounding per value (torch rms_norm)
          var r0 = 0
          while (r0 < rows) {
            val off = r0 * cols
            var ms = 0.0
            var j = 0
            while (j < cols) { val v = data(off + j).toDouble; ms += v * v; j += 1 }
            ms /= cols
            val inv = 1.0 / math.sqrt(ms + eps)
            j = 0
            while (j < cols) {
              data(off + j) = ((data(off + j) * inv) * gamma(j)).toFloat
              j += 1
            }
            r0 += 1
          }
        case SeqGluOp =>
          // per-position a * sigmoid(b) over split halves; f64 gate,
          // one rounding per value; halves the feature width
          val half = cols / 2
          val out = new Array[Float](rows * half)
          var r0 = 0
          while (r0 < rows) {
            val off = r0 * cols
            var j = 0
            while (j < half) {
              val a = data(off + j).toDouble
              val b = data(off + half + j).toDouble
              out(r0 * half + j) = (a * (1.0 / (1.0 + math.exp(-b)))).toFloat
              j += 1
            }
            r0 += 1
          }
          data = out
          cols = half
        case ff: PosFfnOp =>
          // y = l2(act(l1(x))) [+ x] per position; f64, one rounding
          val L = rows
          val hid = ff.l1.outDim
          val out = new Array[Float](L * ff.l2.outDim)
          val mid = new Array[Double](hid)
          var p2 = 0
          while (p2 < L) {
            var h0 = 0
            while (h0 < hid) {
              var acc: Double = ff.l1.bias(h0)
              var j = 0
              while (j < ff.l1.inDim) {
                acc += data(p2 * cols + j).toDouble * ff.l1.weight(h0 * ff.l1.inDim + j); j += 1
              }
              mid(h0) = actF64(ff.act, acc)
              h0 += 1
            }
            var t = 0
            while (t < ff.l2.outDim) {
              var acc: Double = ff.l2.bias(t)
              var j = 0
              while (j < hid) { acc += mid(j) * ff.l2.weight(t * hid + j); j += 1 }
              if (ff.residual) acc += data(p2 * cols + t)
              out(p2 * ff.l2.outDim + t) = acc.toFloat
              t += 1
            }
            p2 += 1
          }
          data = out
          cols = ff.l2.outDim
        case ChannelAffineOp(scale, shift) =>
          // (ch, L): per-channel affine — eval BatchNorm1d after Conv1d
          var r = 0
          while (r < rows) {
            var c = 0
            while (c < cols) {
              val idx = r * cols + c
              data(idx) = data(idx) * scale(r) + shift(r)
              c += 1
            }
            r += 1
          }
        case pe: PosEmbedOp =>
          // y[t] = x[t] + P[t] in f64, one rounding per value; torch
          // raises on an arange past the position table, so do we
          require(rows <= pe.maxLen,
            s"sequence length $rows exceeds the ${pe.maxLen}-position embedding table")
          var i2 = 0
          while (i2 < rows * cols) {
            data(i2) = (data(i2).toDouble + pe.weight(i2)).toFloat
            i2 += 1
          }
        case ActOp(kind) => applyAct(data, kind)
        case ParamActOp(kind, a, b) => applyParamAct(data, kind, a, b)
        case other => sys.error(s"unexpected sequence-phase op $other") // poolIdx walk forbids
      }
      oi += 1
    }
    (data, rows, cols)
  }

  /** The ENCODER leg of a cross-attention model: one key-side token
    * row through `encOps` — embedding lookup + the position-preserving
    * seq ops, NO pool. Returns the `(Lk, encOutDim)` buffer and Lk. */
  private def runEncRow(toks: Array[Int]): (Array[Float], Int) = {
    val e = encHead.getOrElse(sys.error("not a cross-attention model"))
    require(toks.nonEmpty, "empty encoder-side token row")
    val valid = validLen(e, toks)
    val (data, rows, _) = seqPhase(encOps, 1, encOps.length,
      embedLookup(e, toks), toks.length, e.embDim, valid, null, 0)
    (data, rows)
  }

  /** One token row through ops[0..poolIdx] + the pool op, collapsing
    * to a `pooledDim` vector. `enc`/`encL` = the row's precomputed
    * encoder output when the model is cross-attention. */
  private def runSeqRow(toks: Array[Int], enc: Array[Float] = null,
      encL: Int = 0): Array[Float] = {
    val e = seqHead.get
    val valid0 = validLen(e, toks)
    val (data, rows, cols) = seqPhase(ops, 1, poolIdx,
      embedLookup(e, toks), toks.length, e.embDim, valid0, enc, encL)
    val valid = valid0
    ops(poolIdx) match {
      case SeqMaxPoolOp =>
        require(cols > 0, "adaptive max pool over an empty sequence")
        Array.tabulate(rows) { r =>
          var mx = Float.NegativeInfinity
          var q = 0
          while (q < cols) { val v = data(r * cols + q); if (v > mx) mx = v; q += 1 }
          mx
        }
      case SeqAvgPoolOp =>
        Array.tabulate(rows) { r =>
          var acc = 0.0
          var q = 0
          while (q < cols) { acc += data(r * cols + q); q += 1 }
          (acc / cols).toFloat // cols == 0 -> 0/0 = NaN, torch's empty mean
        }
      case SeqMeanPoolOp =>
        // (L, emb): mean over positions per embedding dim; L == 0 -> NaN
        // (over a PADDED row this is torch's literal mean(dim=1): pad
        // query rows are averaged in — masked pooling is the separate
        // SeqMaskedMeanPoolOp, exactly as in torch it is user code)
        Array.tabulate(cols) { c =>
          var acc = 0.0
          var r = 0
          while (r < rows) { acc += data(r * cols + c); r += 1 }
          (acc / rows).toFloat
        }
      case SeqMaskedMeanPoolOp =>
        // (L, emb): mean over the VALID positions only — f64 sum, one
        // rounding per value, same discipline as the other op boundaries
        Array.tabulate(cols) { c =>
          var acc = 0.0
          var r = 0
          while (r < valid) { acc += data(r * cols + c); r += 1 }
          (acc / valid).toFloat
        }
      case SeqClsPoolOp =>
        // (L, emb): position 0 — the [CLS] read-out
        require(rows > 0, "CLS pooling over an empty sequence")
        java.util.Arrays.copyOfRange(data, 0, cols)
      case SeqLastPoolOp =>
        // (L, emb): the last VALID position — L-1 unpadded, the
        // standard lengths-gather read-out on a padded batch
        require(rows > 0, "last-token pooling over an empty sequence")
        java.util.Arrays.copyOfRange(data, (valid - 1) * cols, valid * cols)
      case r: RnnOp => runRnn(r, data, valid, cols)
      case ap: AttnPoolOp =>
        require(valid > 0, "attention pooling over an empty sequence")
        attnPoolF64(ap, data, cols, valid)
      case other => sys.error(s"unexpected pool op $other")
    }
  }

  /** [[AttnPoolOp]]: m latent queries attend over the first `keyLim`
    * positions of the `(L, cols)` sequence; heads concatenated,
    * out_proj per latent row, flattened `(m·E)`. All f64 internally,
    * one f32 rounding per output value. */
  private def attnPoolF64(ap: AttnPoolOp, data: Array[Float],
      cols: Int, keyLim: Int): Array[Float] = {
    val e = ap.inDim
    val cat = new Array[Double](ap.m * e)
    var hOff = 0
    for (h <- ap.heads) {
      val d = h.dim
      // k/v affines over the valid positions
      def proj(w: Array[Float], b: Array[Float]): Array[Double] = {
        val out = new Array[Double](keyLim * d)
        var p = 0
        while (p < keyLim) {
          var o = 0
          while (o < d) {
            var acc: Double = b(o)
            val wOff = o * e
            val xOff = p * cols
            var j = 0
            while (j < e) { acc += data(xOff + j).toDouble * w(wOff + j); j += 1 }
            out(p * d + o) = acc
            o += 1
          }
          p += 1
        }
        out
      }
      val km = proj(h.wk, h.bk)
      val vm = proj(h.wv, h.bv)
      val scores = new Array[Double](keyLim)
      var i = 0
      while (i < ap.m) {
        // latent-side q: weights-only, input-independent
        val q = new Array[Double](d)
        var o = 0
        while (o < d) {
          var acc: Double = h.bq(o)
          var j = 0
          while (j < e) { acc += ap.latent(i * e + j).toDouble * h.wq(o * e + j); j += 1 }
          q(o) = acc
          o += 1
        }
        var mx = Double.NegativeInfinity
        var p = 0
        while (p < keyLim) {
          var s0 = 0.0
          var j = 0
          while (j < d) { s0 += q(j) * km(p * d + j); j += 1 }
          s0 *= h.scale
          scores(p) = s0
          if (s0 > mx) mx = s0
          p += 1
        }
        var z = 0.0
        p = 0
        while (p < keyLim) { scores(p) = math.exp(scores(p) - mx); z += scores(p); p += 1 }
        var j = 0
        while (j < d) {
          var acc = 0.0
          p = 0
          while (p < keyLim) { acc += scores(p) * vm(p * d + j); p += 1 }
          cat(i * e + hOff + j) = acc / z
          j += 1
        }
        i += 1
      }
      hOff += d
    }
    val out64 = ap.proj match {
      case None => cat
      case Some(l) =>
        val o = new Array[Double](ap.m * e)
        var i = 0
        while (i < ap.m) {
          var t = 0
          while (t < e) {
            var acc: Double = l.bias(t)
            var j = 0
            while (j < e) { acc += cat(i * e + j) * l.weight(t * e + j); j += 1 }
            o(i * e + t) = acc
            t += 1
          }
          i += 1
        }
        o
    }
    val out = new Array[Float](ap.outWidth)
    var i = 0
    while (i < out.length) { out(i) = out64(i).toFloat; i += 1 }
    out
  }

  /** Teacher-forced language-model scoring: mean negative log-likelihood
    * of each next token under the model — the CCNet-style quality signal
    * (docs a small LM finds surprising are low-quality or off-domain).
    * Model shape is pinned to `Embedding -> GRU/LSTM -> Linear(hidden ->
    * vocab)`: the hidden state AFTER consuming token `t` predicts token
    * `t+1` (targets are positions `1..L-1`), logits go through a
    * max-shifted log-softmax, and the per-target NLLs are averaged in
    * position order. The whole chain runs in float64 with NO float32
    * rounding (the f32 weights are explicitly widened before every
    * product): this is a score path, not a tensor-op boundary, and the
    * DuckDB oracle restates the identical f64 formulas. Residual
    * cross-engine drift: libm exp/tanh/log ulps, plus DuckDB's `avg()`
    * summing NLLs in scan order rather than position order — both are
    * absorbed by the 6-dp rounding both engines apply to the reported
    * score and by the keep-threshold margin TorchLmSpec pins. The same
    * recurrence/gate formulas as [[runRnn]]; needs >= 2 tokens (one
    * prediction) — shorter rows are the caller's to filter. */
  def lmMeanNll(toks: Array[Int]): Double = {
    val e = seqHead.getOrElse(sys.error("LM scoring needs a token-sequence model"))
    require(ops.length == 3, s"LM shape is Embedding -> RNN -> Linear; got ${ops.length} ops")
    val r = ops(1) match {
      case r: RnnOp =>
        require(r.stack.isEmpty, "LM scoring supports single-layer RNNs only")
        require(!r.bidi, "LM scoring is causal: bidirectional RNNs unsupported")
        require(r.seqPool.isEmpty, "LM scoring reads per-position hiddens itself")
        r
      case other => sys.error(s"LM scoring needs a recurrent second op, got $other")
    }
    val fc = ops(2) match {
      case l: LinearLayer => l
      case other => sys.error(s"LM scoring needs a Linear head, got $other")
    }
    require(fc.outDim == e.vocab,
      s"LM head emits ${fc.outDim} logits over a ${e.vocab}-token vocabulary")
    require(fc.inDim == r.hidden, s"LM head reads ${fc.inDim} != hidden ${r.hidden}")
    val L = toks.length
    require(L >= 2, s"LM scoring needs >= 2 tokens (got $L)")
    val hd = r.hidden
    val g = r.gates
    val h = new Array[Double](hd)
    val c = new Array[Double](hd)
    val ih = new Array[Double](g * hd)
    val hh = new Array[Double](g * hd)
    val hNew = new Array[Double](hd)
    val logits = new Array[Double](e.vocab)
    def sigmoid(x: Double): Double = 1.0 / (1.0 + math.exp(-x))
    var nllSum = 0.0
    var t = 0
    while (t < L - 1) {
      val id = toks(t)
      require(id >= 0 && id < e.vocab, s"token id $id out of range [0, ${e.vocab})")
      val xOff = id * e.embDim
      var gi = 0
      while (gi < g * hd) {
        var accI: Double = r.bIh(gi)
        val wiOff = gi * r.inDim
        var j = 0
        while (j < e.embDim) { accI += r.wIh(wiOff + j).toDouble * e.weight(xOff + j); j += 1 }
        ih(gi) = accI
        var accH: Double = r.bHh(gi)
        val whOff = gi * hd
        j = 0
        while (j < hd) { accH += r.wHh(whOff + j) * h(j); j += 1 }
        hh(gi) = accH
        gi += 1
      }
      var o = 0
      if (r.kind == "gru") {
        while (o < hd) {
          val rg = sigmoid(ih(o) + hh(o))
          val zg = sigmoid(ih(hd + o) + hh(hd + o))
          val ng = math.tanh(ih(2 * hd + o) + rg * hh(2 * hd + o))
          hNew(o) = (1.0 - zg) * ng + zg * h(o)
          o += 1
        }
      } else {
        while (o < hd) {
          val ig = sigmoid(ih(o) + hh(o))
          val fg = sigmoid(ih(hd + o) + hh(hd + o))
          val gg = math.tanh(ih(2 * hd + o) + hh(2 * hd + o))
          val og = sigmoid(ih(3 * hd + o) + hh(3 * hd + o))
          c(o) = fg * c(o) + ig * gg
          hNew(o) = og * math.tanh(c(o))
          o += 1
        }
      }
      System.arraycopy(hNew, 0, h, 0, hd)
      // h now holds the state after consuming token t -> predict t+1
      val target = toks(t + 1)
      require(target >= 0 && target < e.vocab,
        s"token id $target out of range [0, ${e.vocab})")
      var mx = Double.NegativeInfinity
      var v = 0
      while (v < e.vocab) {
        var acc: Double = fc.bias(v)
        val wOff = v * hd
        var j = 0
        while (j < hd) { acc += fc.weight(wOff + j) * h(j); j += 1 }
        logits(v) = acc
        if (acc > mx) mx = acc
        v += 1
      }
      // left-to-right exp sum in vocab order: the oracle's generated
      // `exp(l0-m)+exp(l1-m)+...` associates the same way
      var sumExp = 0.0
      v = 0
      while (v < e.vocab) { sumExp += math.exp(logits(v) - mx); v += 1 }
      nllSum += (mx + math.log(sumExp)) - logits(target)
      t += 1
    }
    nllSum / (L - 1)
  }

  /** The GRU/LSTM recurrence over a `(L, emb)` row-major sequence in
    * float64: `h_0 = c_0 = 0`; per step the input and hidden affines are
    * kept separate because GRU's candidate gate scales ONLY the hidden
    * leg by the reset gate — `n = tanh(Win·x + bin + r ⊙ (Whn·h + bhn))`
    * (torch.nn.GRU docs); LSTM uses the plain sum per gate. One float32
    * rounding per output value at the end. */
  private def runRnn(r: RnnOp, data: Array[Float], L: Int, emb: Int): Array[Float] = {
    // layer 0 over the token embeddings, then each stacked layer over
    // the full hidden sequence of the layer below (torch's layering);
    // all inter-layer values f64, one f32 rounding at the op boundary
    var seq: Array[Double] = {
      val a = new Array[Double](L * emb)
      var i = 0
      while (i < a.length) { a(i) = data(i); i += 1 }
      a
    }
    val hd = r.hidden
    val poolSeq = r.seqPool.isDefined
    if (r.bidi) {
      // per layer: forward cell over 0..L-1, reverse cell over L-1..0,
      // positions concat to a (L, 2H) sequence feeding the next layer.
      // Read-out: cat(fwd final (after L-1), rev final (after 0)) —
      // torch's h_n[-2] ++ h_n[-1]; seqPool=mean averages the (L, 2H)
      // top-layer output instead.
      var out: Array[Double] = null
      var inDim = emb
      val layers = 1 + r.stack.length
      for (li <- 0 until layers) {
        val (wi, wh, bi, bh) =
          if (li == 0) (r.wIh, r.wHh, r.bIh, r.bHh)
          else { val l = r.stack(li - 1); (l.wIh, l.wHh, l.bIh, l.bHh) }
        val rv = r.rev(li)
        val needSeq = li < layers - 1 || poolSeq
        val fw = runRnnLayer(r, wi, wh, bi, bh, seq, L, inDim,
          collectSeq = needSeq, reverse = false)
        val bw = runRnnLayer(r, rv.wIh, rv.wHh, rv.bIh, rv.bHh, seq, L, inDim,
          collectSeq = needSeq, reverse = true)
        if (needSeq) {
          val cat = new Array[Double](L * 2 * hd)
          var t = 0
          while (t < L) {
            System.arraycopy(fw, t * hd, cat, t * 2 * hd, hd)
            System.arraycopy(bw, t * hd, cat, t * 2 * hd + hd, hd)
            t += 1
          }
          seq = cat
          inDim = 2 * hd
          // the final hidden read-out from the collected sequences:
          // forward = position L-1's row, reverse = position 0's row
          if (li == layers - 1) {
            out = new Array[Double](2 * hd)
            System.arraycopy(fw, (L - 1) * hd, out, 0, hd)
            System.arraycopy(bw, 0, out, hd, hd)
          }
        } else {
          // collectSeq=false returns each direction's final hidden
          // (forward: after t=L-1; reverse: after t=0)
          out = new Array[Double](2 * hd)
          System.arraycopy(fw, 0, out, 0, hd)
          System.arraycopy(bw, 0, out, hd, hd)
        }
      }
      if (poolSeq) return seqMeanF32(seq, L, 2 * hd)
      Array.tabulate(2 * hd)(o => out(o).toFloat)
    } else {
      var inDim = emb
      var h = runRnnLayer(r, r.wIh, r.wHh, r.bIh, r.bHh, seq, L, inDim,
        collectSeq = r.stack.nonEmpty || poolSeq)
      for ((l, li) <- r.stack.zipWithIndex) {
        seq = h
        inDim = hd
        h = runRnnLayer(r, l.wIh, l.wHh, l.bIh, l.bHh, seq, L, inDim,
          collectSeq = li < r.stack.length - 1 || poolSeq)
      }
      if (poolSeq) return seqMeanF32(h, L, hd)
      Array.tabulate(hd)(o => h(o).toFloat)
    }
  }

  /** `out.mean(dim=1)` over an f64 `(L, w)` output sequence: per-column
    * sum in POSITION order, one divide, one f32 rounding per value. */
  private def seqMeanF32(seq: Array[Double], L: Int, w: Int): Array[Float] = {
    val acc = new Array[Double](w)
    var t = 0
    while (t < L) {
      var o = 0
      while (o < w) { acc(o) += seq(t * w + o); o += 1 }
      t += 1
    }
    Array.tabulate(w)(o => (acc(o) / L).toFloat)
  }

  /** One GRU/LSTM layer over an f64 `(L, inDim)` sequence; returns the
    * full `(L, H)` hidden sequence when `collectSeq` (to feed the next
    * stacked layer), else just the final `(H)` hidden state. `reverse`
    * scans positions `L-1..0` (the bidirectional reverse cell) — the
    * collected sequence stays position-indexed (row `t` = the hidden
    * AFTER consuming position `t` in scan order), and the "final"
    * state is the one after position 0. */
  private def runRnnLayer(r: RnnOp, wIh: Array[Float], wHh: Array[Float],
      bIh: Array[Float], bHh: Array[Float], data: Array[Double], L: Int,
      inDim: Int, collectSeq: Boolean, reverse: Boolean = false): Array[Double] = {
    val hd = r.hidden
    val g = r.gates
    val h = new Array[Double](hd)
    val c = new Array[Double](hd) // lstm cell state
    val ih = new Array[Double](g * hd)
    val hh = new Array[Double](g * hd)
    val hNew = new Array[Double](hd)
    val outSeq = if (collectSeq) new Array[Double](L * hd) else null
    def sigmoid(x: Double): Double = 1.0 / (1.0 + math.exp(-x))
    var step = 0
    while (step < L) {
      val t = if (reverse) L - 1 - step else step
      var gi = 0
      while (gi < g * hd) {
        var accI: Double = bIh(gi)
        val wiOff = gi * inDim
        var j = 0
        while (j < inDim) { accI += wIh(wiOff + j) * data(t * inDim + j); j += 1 }
        ih(gi) = accI
        var accH: Double = bHh(gi)
        val whOff = gi * hd
        j = 0
        while (j < hd) { accH += wHh(whOff + j) * h(j); j += 1 }
        hh(gi) = accH
        gi += 1
      }
      var o = 0
      if (r.kind == "gru") {
        while (o < hd) {
          val rg = sigmoid(ih(o) + hh(o))
          val zg = sigmoid(ih(hd + o) + hh(hd + o))
          val ng = math.tanh(ih(2 * hd + o) + rg * hh(2 * hd + o))
          hNew(o) = (1.0 - zg) * ng + zg * h(o)
          o += 1
        }
      } else {
        while (o < hd) {
          val ig = sigmoid(ih(o) + hh(o))
          val fg = sigmoid(ih(hd + o) + hh(hd + o))
          val gg = math.tanh(ih(2 * hd + o) + hh(2 * hd + o))
          val og = sigmoid(ih(3 * hd + o) + hh(3 * hd + o))
          c(o) = fg * c(o) + ig * gg
          hNew(o) = og * math.tanh(c(o))
          o += 1
        }
      }
      System.arraycopy(hNew, 0, h, 0, hd)
      if (collectSeq) System.arraycopy(hNew, 0, outSeq, t * hd, hd)
      step += 1
    }
    if (collectSeq) outSeq else h
  }

  /** One attention head over `(L, cols)` f32 data -> `(L, at.dim)` f64
    * (shared by [[SelfAttentionOp]] and [[EncoderAttnOp]]): Q/K/V
    * affines, scaled scores, max-shifted softmax, weighted V sums —
    * all float64. `keyLim` is the key-padding mask: softmaxes run over
    * key columns `[0, keyLim)` only (`-inf`-masked pad columns
    * contribute `exp(-inf) = 0` to max and sum — torch's
    * `key_padding_mask=True` semantics); pad QUERY rows `>= keyLim`
    * are still computed, like torch, and discarded by a masked
    * read-out downstream. Composes with `causal` (both masks AND). */
  private def attnHeadF64(at: SelfAttentionOp, data: Array[Float],
      L: Int, cols: Int, keyLim: Int,
      kvData: Array[Float] = null, kvL: Int = -1): Array[Double] = {
    val d = at.dim
    def proj(w: Array[Float], b: Array[Float],
        src: Array[Float], n: Int, stride: Int): Array[Double] = {
      val out = new Array[Double](n * d)
      var p = 0
      while (p < n) {
        var o = 0
        while (o < d) {
          var acc: Double = b(o)
          val wOff = o * at.inDim
          val xOff = p * stride
          var j = 0
          while (j < at.inDim) { acc += src(xOff + j).toDouble * w(wOff + j); j += 1 }
          out(p * d + o) = acc
          o += 1
        }
        p += 1
      }
      out
    }
    val qm = proj(at.wq, at.bq, data, L, cols)
    // cross-attention: k/v project from the SEPARATE kvData sequence
    // (stride = the head's input dim — enc width == inDim is enforced
    // by the model constructor); self-attention: from the same buffer
    val (kvSrc, kvN, kvStride) =
      if (kvData == null) (data, L, cols) else (kvData, kvL, at.inDim)
    val km = proj(at.wk, at.bk, kvSrc, kvN, kvStride)
    val vm = proj(at.wv, at.bv, kvSrc, kvN, kvStride)
    // rotary embedding of the projected q and k (f64 over the stored
    // f32 tables): rope(x)_p = x_p·cos_p + rotate_half(x_p)·sin_p
    for (cosT <- at.ropeCos; sinT <- at.ropeSin) {
      require(L <= at.ropeLen,
        s"sequence length $L exceeds the RoPE tables (${at.ropeLen} " +
          s"positions) — the cos/sin buffers ARE the model's maximum length")
      val h = d / 2
      def rot(x: Array[Double]): Unit = {
        var p = 0
        while (p < L) {
          var j = 0
          while (j < h) {
            val lo = x(p * d + j); val hi = x(p * d + h + j)
            val cL = cosT(p * d + j).toDouble
            val cH = cosT(p * d + h + j).toDouble
            val sL = sinT(p * d + j).toDouble
            val sH = sinT(p * d + h + j).toDouble
            x(p * d + j) = lo * cL - hi * sL
            x(p * d + h + j) = hi * cH + lo * sH
            j += 1
          }
          p += 1
        }
      }
      rot(qm); rot(km)
    }
    val biasM = at.bias.orNull
    require(biasM == null || L <= at.biasRows,
      s"sequence length $L exceeds the attention bias table (${at.biasRows} " +
        s"positions) — the mask buffer IS the model's maximum length")
    val out = new Array[Double](L * d)
    // cross-attention: the key side (keyLim = Lk) can exceed L
    val scores = new Array[Double](math.max(L, keyLim))
    var a = 0
    while (a < L) {
      // causal: row a's softmax runs over the prefix 0..a only (the
      // -inf-masked tail contributes exp(-inf) = 0 to max and sum);
      // key padding caps both forms at keyLim. A causal pad QUERY row
      // (a >= keyLim) still sees all keyLim valid keys, matching
      // torch's additive-mask composition. A general additive bias
      // (ALiBi slopes / banded windows) adds AFTER scaling, torch's
      // softmax(q·kᵀ·scale + mask); its -inf entries drop the pair
      // from max and normalizer exactly like the causal tail.
      val lim = if (at.causal) math.min(a + 1, keyLim) else keyLim
      var mx = Double.NegativeInfinity
      var b0 = 0
      while (b0 < lim) {
        var s0 = 0.0
        var j = 0
        while (j < d) { s0 += qm(a * d + j) * km(b0 * d + j); j += 1 }
        s0 *= at.scale
        if (biasM != null) s0 += biasM(a * at.biasRows + b0).toDouble
        scores(b0) = s0
        if (s0 > mx) mx = s0
        b0 += 1
      }
      if (mx == Double.NegativeInfinity) {
        // every visible key is -inf-masked: torch would emit NaN. For
        // a VALID query row no traced classifier means that — fail
        // loudly; a pad query row (>= keyLim) is discarded by the
        // masked read-out downstream, so zeros are safe.
        require(a >= keyLim, s"attention bias masks out every visible key " +
          s"for query position $a (of $keyLim valid) — the mask row is " +
          s"all -inf over the valid keys")
        var j = 0
        while (j < d) { out(a * d + j) = 0.0; j += 1 }
      } else {
        var z = 0.0
        b0 = 0
        while (b0 < lim) { scores(b0) = math.exp(scores(b0) - mx); z += scores(b0); b0 += 1 }
        var j = 0
        while (j < d) {
          var acc = 0.0
          b0 = 0
          while (b0 < lim) { acc += scores(b0) * vm(b0 * d + j); b0 += 1 }
          out(a * d + j) = acc / z
          j += 1
        }
      }
      a += 1
    }
    out
  }

  /** The [[applyAct]] formulas in f64 (for the fused FFN's hidden
    * activation, before any rounding). */
  private def actF64(kind: String, x: Double): Double = kind match {
    case "relu" => if (x < 0) 0.0 else x
    case "sigmoid" => 1.0 / (1.0 + math.exp(-x))
    case "tanh" => math.tanh(x)
    case "gelu" => 0.5 * x * (1.0 + erf(x / math.sqrt(2.0)))
    case "silu" => x / (1.0 + math.exp(-x))
    case other => sys.error(s"unknown activation $other")
  }

  /** Run ops[from..] over an `n × dim0` row-major batch. */
  private def runOps(from: Int, x: Array[Float], n: Int, dim0: Int): Array[Float] = {
    var cur = x
    var curDim = dim0
    for (op <- ops.drop(from)) op match {
      case _: EmbeddingMeanOp | _: EmbeddingSeqOp =>
        sys.error("embedding op past the model head") // constructor forbids
      case TransposeOp | _: Conv1dOp | _: MaxPool1dOp | _: AvgPool1dOp |
          _: Pad1dOp | _: Chomp1dOp | _: SelfAttentionOp |
          _: EncoderAttnOp | _: CrossAttnOp |
          _: SeqLayerNormOp | _: SeqRmsNormOp | SeqGluOp |
          _: PosFfnOp | _: PosEmbedOp |
          SeqMaxPoolOp | SeqAvgPoolOp | SeqMeanPoolOp | SeqMaskedMeanPoolOp |
          SeqClsPoolOp | SeqLastPoolOp | _: AttnPoolOp | _: RnnOp |
          _: Conv2dOp | _: MaxPool2dOp | _: AvgPool2dOp | _: GlobalPool2dOp |
          _: ChannelAffineOp | _: ResBlock2dOp =>
        sys.error("sequence/image op past the pool") // phase walkers forbid
      case l: LinearLayer =>
        require(curDim == l.inDim, s"linear expects ${l.inDim} features, got $curDim")
        val out = new Array[Float](n * l.outDim)
        val w = l.weight
        val b = l.bias
        var i = 0
        while (i < n) {
          val xOff = i * curDim
          val oOff = i * l.outDim
          var o = 0
          while (o < l.outDim) {
            val wOff = o * curDim
            var acc = b(o)
            var k = 0
            while (k < curDim) { acc += cur(xOff + k) * w(wOff + k); k += 1 }
            out(oOff + o) = acc
            o += 1
          }
          i += 1
        }
        cur = out
        curDim = l.outDim
      case ActOp(kind) =>
        // activations run on a buffer we own (a Linear always precedes
        // them in any real MLP; if not, copy so the caller's input
        // array is never mutated)
        if (cur eq x) cur = x.clone()
        applyAct(cur, kind)
      case ParamActOp(kind, a, b) =>
        if (cur eq x) cur = x.clone()
        applyParamAct(cur, kind, a, b)
      case ScaleShiftOp(scale, shift) =>
        require(curDim == scale.length,
          s"batchnorm over ${scale.length} features applied to $curDim")
        if (cur eq x) cur = x.clone()
        var i = 0
        while (i < cur.length) {
          val f = i % curDim
          cur(i) = cur(i) * scale(f) + shift(f)
          i += 1
        }
      case LayerNormOp(gamma, beta, eps) =>
        require(curDim == gamma.length,
          s"layernorm over ${gamma.length} features applied to $curDim")
        if (cur eq x) cur = x.clone()
        var r = 0
        while (r < n) {
          val off = r * curDim
          var mean = 0.0
          var j = 0
          while (j < curDim) { mean += cur(off + j); j += 1 }
          mean /= curDim
          var va = 0.0
          j = 0
          while (j < curDim) {
            val d = cur(off + j) - mean; va += d * d; j += 1
          }
          va /= curDim // biased variance, as torch uses for layer_norm
          val inv = 1.0 / math.sqrt(va + eps)
          j = 0
          while (j < curDim) {
            cur(off + j) = (((cur(off + j) - mean) * inv) * gamma(j) + beta(j)).toFloat
            j += 1
          }
          r += 1
        }
      case RmsNormOp(gamma, eps) =>
        require(curDim == gamma.length,
          s"rmsnorm over ${gamma.length} features applied to $curDim")
        if (cur eq x) cur = x.clone()
        var r = 0
        while (r < n) {
          val off = r * curDim
          var ms = 0.0
          var j = 0
          while (j < curDim) { val v = cur(off + j).toDouble; ms += v * v; j += 1 }
          ms /= curDim
          val inv = 1.0 / math.sqrt(ms + eps)
          j = 0
          while (j < curDim) {
            cur(off + j) = ((cur(off + j) * inv) * gamma(j)).toFloat
            j += 1
          }
          r += 1
        }
      case GluOp =>
        require(curDim % 2 == 0, s"GLU on an odd feature width $curDim")
        val half = curDim / 2
        val out = new Array[Float](n * half)
        var r = 0
        while (r < n) {
          val off = r * curDim
          var j = 0
          while (j < half) {
            val a = cur(off + j).toDouble
            val b = cur(off + half + j).toDouble
            out(r * half + j) = (a * (1.0 / (1.0 + math.exp(-b)))).toFloat
            j += 1
          }
          r += 1
        }
        cur = out
        curDim = half
      case SoftmaxOp(log) =>
        if (cur eq x) cur = x.clone()
        var r = 0
        while (r < n) {
          val off = r * curDim
          var mx = Float.NegativeInfinity
          var j = 0
          while (j < curDim) { if (cur(off + j) > mx) mx = cur(off + j); j += 1 }
          var sum = 0.0
          j = 0
          while (j < curDim) { sum += math.exp((cur(off + j) - mx).toDouble); j += 1 }
          j = 0
          if (log) {
            val lse = math.log(sum)
            while (j < curDim) { cur(off + j) = ((cur(off + j) - mx) - lse).toFloat; j += 1 }
          } else {
            while (j < curDim) {
              cur(off + j) = (math.exp((cur(off + j) - mx).toDouble) / sum).toFloat; j += 1
            }
          }
          r += 1
        }
    }
    cur
  }

  /** Teacher-forced mean next-token NLL of the decoder sequence GIVEN
    * the source — the parallel-corpus quality score (filtering noisy
    * translation/summary pairs by seq2seq loss, the standard
    * mine-then-filter recipe). The decoder runs ONCE over all
    * positions (causal attention: position p's state never sees
    * p+1..), the LM head applies per position in f64, and the NLL of
    * `dToks(p+1)` under position p's log-softmax averages over the
    * L-1 predictions. The per-op f32 roundings of the sequence phase
    * are the engine-vs-f64-oracle drift (~1e-6) — so the ORACLE-GATED
    * output is the discrete keep decision against a margin-pinned
    * threshold, not the raw value (TorchCrossSpec pins the margin
    * floor; the q96/q127 argmax-gap argument applied to a threshold). */
  def seq2seqMeanNll(dToks: Array[Int], kToks: Array[Int]): Double = {
    require(isCross, "seq2seq scoring needs a cross-attention model")
    require(ops(poolIdx) == SeqLastPoolOp,
      "seq2seq scoring needs a causal last-pooled decoder")
    require(ops.slice(1, poolIdx).forall {
      case ea: EncoderAttnOp => ea.heads.forall(_.causal)
      case a: SelfAttentionOp => a.causal
      case _ => true
    }, "seq2seq scoring is causal: position p must never see p+1..")
    val fc = ops.drop(poolIdx + 1) match {
      case IndexedSeq(l: LinearLayer) => l
      case other => sys.error(s"seq2seq scoring needs a single Linear LM head, " +
        s"got ${other.map(_.getClass.getSimpleName)}")
    }
    val e = seqHead.get
    require(fc.outDim == e.vocab,
      s"LM head emits ${fc.outDim} logits over a ${e.vocab}-token vocabulary")
    val L = dToks.length
    require(L >= 2, s"seq2seq scoring needs >= 2 decoder tokens (got $L)")
    val (enc, encL) = runEncRow(kToks)
    val (data, rows, cols) = seqPhase(ops, 1, poolIdx,
      embedLookup(e, dToks), L, e.embDim, L, enc, encL)
    require(rows == L && cols == fc.inDim, s"seq2seq state shape ($rows, $cols)")
    val logits = new Array[Double](fc.outDim)
    var nllSum = 0.0
    var p = 0
    while (p < L - 1) {
      var o = 0
      while (o < fc.outDim) {
        var acc: Double = fc.bias(o)
        var j = 0
        while (j < cols) { acc += data(p * cols + j).toDouble * fc.weight(o * cols + j); j += 1 }
        logits(o) = acc
        o += 1
      }
      var mx = Double.NegativeInfinity
      o = 0
      while (o < fc.outDim) { if (logits(o) > mx) mx = logits(o); o += 1 }
      var z = 0.0
      o = 0
      while (o < fc.outDim) { z += math.exp(logits(o) - mx); o += 1 }
      val next = dToks(p + 1)
      require(next >= 0 && next < fc.outDim, s"token id $next out of range")
      nllSum += (math.log(z) + mx) - logits(next)
      p += 1
    }
    nllSum / (L - 1)
  }

  /** True when [[decodeSession]] can decode this model INCREMENTALLY:
    * a token-sequence model pooled by the last position whose sequence
    * phase is position-local except for CAUSAL attention — then a
    * grown sequence never changes already-computed positions, so
    * per-position k/v projections cache and each step costs O(L·d)
    * instead of the O(L²·d) full recompute. RoPE heads cache the
    * ROTATED k (the rotation depends only on the absolute position —
    * the Llama-style decode shape). A head carrying an additive bias
    * table qualifies when the table is CAUSAL-BANDED
    * ([[SelfAttentionOp.biasCausalBanded]]: `-inf` above the diagonal
    * — ALiBi, causal sliding windows): bias entries depend only on
    * the absolute pair (a, b) and masked keys contribute exactly 0 to
    * the softmax, so cached k/v stay valid and the session's
    * restricted key loop is bit-identical to the batch recompute.
    * Genuinely non-causal attention (including symmetric windows),
    * padded heads, and conv/pool layouts fall back to the recompute
    * path. */
  lazy val cacheable: Boolean =
    seqHead.isDefined && seqHead.get.padIdx < 0 &&
      poolIdx >= 1 && ops(poolIdx) == SeqLastPoolOp &&
      ops.slice(1, poolIdx).forall {
        case ea: EncoderAttnOp =>
          ea.heads.forall(h => h.causal || h.biasCausalBanded)
        case a: SelfAttentionOp => a.causal || a.biasCausalBanded
        // a cross op attends over the FIXED per-row encoder output —
        // position-local w.r.t. the growing decoder sequence, so its
        // enc-side k/v project ONCE at session open
        case _: CrossAttnOp => true
        case _: SeqLayerNormOp | _: SeqRmsNormOp | SeqGluOp | _: PosFfnOp |
            _: PosEmbedOp | _: ActOp | _: ParamActOp => true
        case _ => false
      }

  /** Open an incremental decoding session seeded with `prompt` — the
    * KV-cache complement of re-running [[forwardTokens]] on every
    * grown sequence. BIT-IDENTICAL to the recompute path by
    * construction: each appended position runs the exact per-op f64
    * formulas of [[seqPhase]]/[[attnHeadF64]] in the same accumulation
    * order, and causal attention reads cached k/v projections whose
    * values never change as the sequence grows (spec-pinned per-step
    * logit equality on every sf0.001 doc, TorchGenerateSpec). A CROSS
    * model (encoder-decoder) additionally takes the fixed source-side
    * `encToks`: the encoder leg runs once, cross k/v project once, and
    * every appended decoder position attends over them. */
  def decodeSession(prompt: Array[Int],
      encToks: Array[Int] = null): DecodeSession = {
    require(cacheable, "model is not incrementally decodable (see cacheable)")
    require(prompt.nonEmpty, "empty prompt")
    require((encToks != null) == isCross,
      if (isCross) "cross-attention decode needs the source-side tokens"
      else "encoder tokens passed to a single-sequence model")
    new DecodeSession(prompt, encToks, null, Int.MaxValue, Int.MaxValue, false)
  }

  /** [[decodeSession]] with a BOUNDED KV cache — the StreamingLLM
    * shape (Xiao et al. 2024): every causal-attention cache keeps the
    * first `nSink` positions (the attention sinks) plus a sliding
    * window of the last `nWindow` positions; everything between is
    * EVICTED as the sequence grows, so a serving loop's per-session
    * state is O(nSink + nWindow) instead of O(L). Semantics: query
    * position P attends over keys {0..nSink−1} ∪ {P−nWindow+1..P},
    * with cached keys at their ABSOLUTE positions (RoPE rotations and
    * bias-table entries keyed on the original (query, key) pair — the
    * "window + sinks over absolute positions" variant; StreamingLLM's
    * within-cache re-rotation is a different dial and would break the
    * banded-bias models this path exists for). Because the visible
    * set of position P depends only on P, a batch windowed recompute
    * restates the incremental session exactly (the oracle's form),
    * and `nWindow >= sequence length` never evicts — bit-identical to
    * [[decodeSession]] by construction: the score loop walks the same
    * cached rows in the same order (spec-pinned). */
  def decodeSessionWindowed(prompt: Array[Int], nSink: Int, nWindow: Int,
      encToks: Array[Int] = null): DecodeSession = {
    require(cacheable, "model is not incrementally decodable (see cacheable)")
    require(prompt.nonEmpty, "empty prompt")
    require(nSink >= 0, "nSink must be >= 0")
    require(nWindow >= 1, "nWindow must be >= 1 (the query position itself)")
    require((encToks != null) == isCross,
      if (isCross) "cross-attention decode needs the source-side tokens"
      else "encoder tokens passed to a single-sequence model")
    new DecodeSession(prompt, encToks, null, nSink, nWindow, false)
  }

  /** [[decodeSessionWindowed]] with StreamingLLM's RE-ROTATION dial
    * (Xiao et al. 2024 §3.2, "positions within cache"): the kept
    * cache slots are re-indexed CONTIGUOUSLY on every eviction, so
    * attention at query position P reads its bias table at
    * (slotQ, slotK) = (|kept|−1, cache slot) instead of the absolute
    * (P, keptPos(slot)) pair. Because slot indices never exceed
    * nSink + nWindow, THE MODEL'S LENGTH LIMIT IS LIFTED: a session
    * can decode past `biasRows` positions with a fixed-size bias
    * table — the StreamingLLM "infinite-length" property the
    * absolute-position variant cannot offer (its tables stay keyed on
    * unbounded absolute positions).
    *
    * Soundness scope (checked up front): the decoder stack must carry
    * its position information ENTIRELY in additive attention bias
    * (ALiBi / banded masks) — no learned absolute position embedding
    * (PosEmbedOp: its contribution is baked into cached k/v at append
    * time and cannot be re-indexed without a full window recompute)
    * and no RoPE (cached keys are stored post-rotation at their
    * absolute position). Under that scope cached k/v rows are
    * position-independent, so re-indexing costs NOTHING — only the
    * bias lookup changes. Hard-causal no-bias heads are position-free
    * and trivially sound.
    *
    * When nothing has evicted, slot == absolute position and this is
    * bit-identical to [[decodeSession]] (spec-pinned — the same
    * neutrality-for-free argument as the windowed variant). Once
    * eviction fires the OUTPUTS genuinely differ from the
    * absolute-position variant: ALiBi distances compress (a sink's
    * slot distance stays small however far the stream scrolls) —
    * that is StreamingLLM's defined semantics, not drift. Batch
    * restatement stays exact: position b's row used kept(b)/slots(b)
    * at its own append time, both closed forms in (a, b), so the
    * oracle is the windowed attention join with slot arithmetic
    * replacing absolute positions. */
  def decodeSessionRelPos(prompt: Array[Int], nSink: Int, nWindow: Int,
      encToks: Array[Int] = null): DecodeSession = {
    require(cacheable, "model is not incrementally decodable (see cacheable)")
    require(prompt.nonEmpty, "empty prompt")
    require(nSink >= 0, "nSink must be >= 0")
    require(nWindow >= 1, "nWindow must be >= 1 (the query position itself)")
    require((encToks != null) == isCross,
      if (isCross) "cross-attention decode needs the source-side tokens"
      else "encoder tokens passed to a single-sequence model")
    ops.slice(1, poolIdx).foreach {
      case _: PosEmbedOp => throw new IllegalArgumentException(
        "re-rotated bounded KV needs position-in-attention models: a " +
          "learned absolute position embedding is baked into cached k/v " +
          "and cannot be re-indexed")
      case ea: EncoderAttnOp => ea.heads.foreach { h =>
        require(h.ropeCos.isEmpty,
          "re-rotated bounded KV does not compose with RoPE caches " +
            "(keys are stored post-rotation at absolute positions)")
        require(h.bias.isEmpty || nSink + nWindow <= h.biasRows,
          s"bias table (${h.biasRows} rows) shorter than the cache " +
            s"budget nSink + nWindow = ${nSink + nWindow}")
      }
      case a: SelfAttentionOp =>
        require(a.ropeCos.isEmpty,
          "re-rotated bounded KV does not compose with RoPE caches")
        require(a.bias.isEmpty || nSink + nWindow <= a.biasRows,
          s"bias table (${a.biasRows} rows) shorter than the cache " +
            s"budget nSink + nWindow = ${nSink + nWindow}")
      case _ =>
    }
    new DecodeSession(prompt, encToks, null, nSink, nWindow, true)
  }

  // NOTE: no default ctor args here — defaults would generate a
  // synthetic companion module as a (non-serializable) field of the
  // enclosing model, breaking model broadcast
  final class DecodeSession private[TorchScriptModel] (prompt: Array[Int],
      encToks: Array[Int], parent: DecodeSession,
      nSink0: Int, nWindow0: Int, relPos0: Boolean) {
    /** Bounded-KV knobs (attention sinks + sliding window) — inherited
      * by forks; Int.MaxValue = unbounded (the plain decodeSession). */
    private val nSink: Int = if (parent != null) parent.nSink else nSink0
    private val nWindow: Int = if (parent != null) parent.nWindow else nWindow0
    /** Re-rotation dial ([[decodeSessionRelPos]]): bias tables read at
      * cache-slot indices instead of absolute positions. */
    private val relPos: Boolean = if (parent != null) parent.relPos else relPos0
    /** The ABSOLUTE positions currently held by every causal k/v
      * cache, ascending (all ops' caches append one row per append and
      * evict in lockstep, so one index list serves them all). */
    private val keptPos = scala.collection.mutable.ArrayBuffer.empty[Int]
    private val e = seqHead.get
    /** Per causal-attention op (keyed by op index), per head: cached
      * k/v projections, one `(dim)` f64 vector per position. */
    private val kCache = scala.collection.mutable.Map.empty[
      Int, Array[scala.collection.mutable.ArrayBuffer[Array[Double]]]]
    private val vCache = scala.collection.mutable.Map.empty[
      Int, Array[scala.collection.mutable.ArrayBuffer[Array[Double]]]]
    /** Per cross op: the FIXED per-head enc-side k/v projections,
      * computed once from the encoder output at session open (SHARED
      * by forked children — they are immutable). */
    private val encK: scala.collection.mutable.Map[Int, Array[Array[Double]]] =
      if (parent != null) parent.encK
      else scala.collection.mutable.Map.empty[Int, Array[Array[Double]]]
    private val encV: scala.collection.mutable.Map[Int, Array[Array[Double]]] =
      if (parent != null) parent.encV
      else scala.collection.mutable.Map.empty[Int, Array[Array[Double]]]
    private var encLen: Int = if (parent != null) parent.encLen else 0
    if (encToks != null && parent == null) {
      val (encData, lk) = runEncRow(encToks)
      encLen = lk
      def projAll(w: Array[Float], b: Array[Float], d: Int, in: Int): Array[Double] = {
        val out = new Array[Double](lk * d)
        var p = 0
        while (p < lk) {
          var o = 0
          while (o < d) {
            var acc: Double = b(o)
            val wOff = o * in
            var j = 0
            while (j < in) { acc += encData(p * in + j).toDouble * w(wOff + j); j += 1 }
            out(p * d + o) = acc
            o += 1
          }
          p += 1
        }
        out
      }
      for ((op, oi) <- ops.zipWithIndex.slice(1, poolIdx)) op match {
        case ca: CrossAttnOp =>
          encK(oi) = ca.heads.map(h => projAll(h.wk, h.bk, h.dim, h.inDim)).toArray
          encV(oi) = ca.heads.map(h => projAll(h.wv, h.bv, h.dim, h.inDim)).toArray
        case _ =>
      }
    }
    for ((op, oi) <- ops.zipWithIndex.slice(1, poolIdx)) op match {
      case ea: EncoderAttnOp =>
        kCache(oi) = Array.fill(ea.heads.length)(
          scala.collection.mutable.ArrayBuffer.empty[Array[Double]])
        vCache(oi) = Array.fill(ea.heads.length)(
          scala.collection.mutable.ArrayBuffer.empty[Array[Double]])
      case _: SelfAttentionOp =>
        kCache(oi) = Array.fill(1)(
          scala.collection.mutable.ArrayBuffer.empty[Array[Double]])
        vCache(oi) = Array.fill(1)(
          scala.collection.mutable.ArrayBuffer.empty[Array[Double]])
      case _ =>
    }
    private var pos = -1
    private var lastX: Array[Float] = null
    /** Current sequence length. */
    def length: Int = pos + 1
    if (parent == null) prompt.foreach(append)
    else {
      // FORK: O(L) pointer copies of the immutable per-position rows —
      // appends after this diverge from the parent
      pos = parent.pos
      lastX = parent.lastX
      keptPos ++= parent.keptPos
      for ((oi, arr) <- parent.kCache; hi <- arr.indices)
        kCache(oi)(hi) ++= arr(hi)
      for ((oi, arr) <- parent.vCache; hi <- arr.indices)
        vCache(oi)(hi) ++= arr(hi)
    }

    /** f64 projection of the position's f32 features — the exact
      * attnHeadF64 inner loop. */
    private def projVec(x: Array[Float], w: Array[Float], b: Array[Float],
        d: Int, inDim: Int): Array[Double] = {
      val out = new Array[Double](d)
      var o = 0
      while (o < d) {
        var acc: Double = b(o)
        val wOff = o * inDim
        var j = 0
        while (j < inDim) { acc += x(j).toDouble * w(wOff + j); j += 1 }
        out(o) = acc
        o += 1
      }
      out
    }

    /** One head's causal attention OUTPUT row at the current position,
      * appending this position's k/v to the cache — the attnHeadF64
      * math (same max-shift, same b0-ascending accumulation order)
      * restricted to the row the last-pos read-out needs. */
    private def headRow(h: SelfAttentionOp, x: Array[Float],
        ks: scala.collection.mutable.ArrayBuffer[Array[Double]],
        vs: scala.collection.mutable.ArrayBuffer[Array[Double]]): Array[Double] = {
      val d = h.dim
      val qm = projVec(x, h.wq, h.bq, d, h.inDim)
      val kNew = projVec(x, h.wk, h.bk, d, h.inDim)
      // rotary embedding at THIS position — the cached k is rotated
      // once (rotations depend only on the absolute position, which is
      // exactly why a RoPE KV cache is sound); same formulas and
      // f64 order as attnHeadF64's rot at row `pos`
      for (cosT <- h.ropeCos; sinT <- h.ropeSin) {
        require(pos < h.ropeLen,
          s"sequence length ${pos + 1} exceeds the RoPE tables (${h.ropeLen} " +
            s"positions) — the cos/sin buffers ARE the model's maximum length")
        val half = d / 2
        def rot(x0: Array[Double]): Unit = {
          var j = 0
          while (j < half) {
            val lo = x0(j); val hi = x0(half + j)
            val cL = cosT(pos * d + j).toDouble
            val cH = cosT(pos * d + half + j).toDouble
            val sL = sinT(pos * d + j).toDouble
            val sH = sinT(pos * d + half + j).toDouble
            x0(j) = lo * cL - hi * sL
            x0(half + j) = hi * cH + lo * sH
            j += 1
          }
        }
        rot(qm); rot(kNew)
      }
      ks += kNew
      vs += projVec(x, h.wv, h.bv, d, h.inDim)
      val biasM = h.bias.orNull
      // relPos reads the table at (slotQ, slotK) — slots are bounded
      // by nSink + nWindow (<= biasRows, checked at open), so the
      // absolute-position length limit does NOT bind
      require(biasM == null || relPos || pos < h.biasRows,
        s"sequence length ${pos + 1} exceeds the attention bias table " +
          s"(${h.biasRows} positions)")
      // causal row `pos`: the RETAINED keys (all of 0..pos unbounded;
      // sinks + window when evicting) — keptPos(b0) is the key's
      // absolute position, so bias entries stay keyed on the original
      // (query, key) pair and the unbounded walk sees keptPos(b0) ==
      // b0 (identical arithmetic to the pre-window code path)
      val lim = ks.length
      val scores = new Array[Double](lim)
      var mx = Double.NegativeInfinity
      var b0 = 0
      while (b0 < lim) {
        var s0 = 0.0
        val km = ks(b0)
        var j = 0
        while (j < d) { s0 += qm(j) * km(j); j += 1 }
        s0 *= h.scale
        if (biasM != null) {
          // absolute: (query pos, key's original pos); relPos: the
          // re-rotated (slotQ, slotK) = (lim−1, b0) pair. With no
          // eviction keptPos(b0) == b0 and pos == lim−1, so both
          // forms index the SAME entry — neutrality for free.
          val bi = if (relPos) (lim - 1) * h.biasRows + b0
                   else pos * h.biasRows + keptPos(b0)
          s0 += biasM(bi).toDouble
        }
        scores(b0) = s0
        if (s0 > mx) mx = s0
        b0 += 1
      }
      require(mx > Double.NegativeInfinity,
        s"attention bias masks out every visible key for query position $pos")
      var z = 0.0
      b0 = 0
      while (b0 < lim) { scores(b0) = math.exp(scores(b0) - mx); z += scores(b0); b0 += 1 }
      val out = new Array[Double](d)
      var j = 0
      while (j < d) {
        var acc = 0.0
        b0 = 0
        while (b0 < lim) { acc += scores(b0) * vs(b0)(j); b0 += 1 }
        out(j) = acc / z
        j += 1
      }
      out
    }

    /** One cross-attention head's output at the current decoder
      * position: q from `x`, k/v the PRE-PROJECTED encoder rows —
      * the attnHeadF64 cross math (same accumulation order). */
    private def crossHeadRow(h: SelfAttentionOp, x: Array[Float],
        km: Array[Double], vm: Array[Double]): Array[Double] = {
      val d = h.dim
      val qm = projVec(x, h.wq, h.bq, d, h.inDim)
      val scores = new Array[Double](encLen)
      var mx = Double.NegativeInfinity
      var b0 = 0
      while (b0 < encLen) {
        var s0 = 0.0
        var j = 0
        while (j < d) { s0 += qm(j) * km(b0 * d + j); j += 1 }
        s0 *= h.scale
        scores(b0) = s0
        if (s0 > mx) mx = s0
        b0 += 1
      }
      var z = 0.0
      b0 = 0
      while (b0 < encLen) { scores(b0) = math.exp(scores(b0) - mx); z += scores(b0); b0 += 1 }
      val out = new Array[Double](d)
      var j = 0
      while (j < d) {
        var acc = 0.0
        b0 = 0
        while (b0 < encLen) { acc += scores(b0) * vm(b0 * d + j); b0 += 1 }
        out(j) = acc / z
        j += 1
      }
      out
    }

    /** Append one token: run the NEW position through the sequence
      * phase (position-local ops + causal attention over the caches).
      * Under a bounded-KV session ([[decodeSessionWindowed]]) the
      * eviction runs FIRST: cached positions that are neither sinks
      * (abs < nSink) nor inside the new position's window
      * (abs > pos − nWindow) leave every cache before this position
      * attends — so the score loop's visible set is exactly
      * {0..nSink−1} ∪ {pos−nWindow+1..pos}. */
    def append(tid: Int): Unit = {
      pos += 1
      if (nWindow != Int.MaxValue || nSink != Int.MaxValue) {
        // keptPos ascends; evictees are the contiguous run starting at
        // the first non-sink entry and ending at pos − nWindow
        var i0 = 0
        while (i0 < keptPos.length && keptPos(i0) < nSink) i0 += 1
        while (i0 < keptPos.length && keptPos(i0) <= pos - nWindow) {
          keptPos.remove(i0)
          for ((_, arr) <- kCache; hi <- arr.indices) arr(hi).remove(i0)
          for ((_, arr) <- vCache; hi <- arr.indices) arr(hi).remove(i0)
        }
      }
      keptPos += pos
      require(tid >= 0 && tid < e.vocab, s"token id $tid out of range [0, ${e.vocab})")
      var x = java.util.Arrays.copyOfRange(e.weight, tid * e.embDim, (tid + 1) * e.embDim)
      var oi = 1
      while (oi < poolIdx) {
        ops(oi) match {
          case pe: PosEmbedOp =>
            require(pos < pe.maxLen,
              s"sequence length ${pos + 1} exceeds the ${pe.maxLen}-position embedding table")
            var i2 = 0
            while (i2 < x.length) {
              x(i2) = (x(i2).toDouble + pe.weight(pos * pe.embDim + i2)).toFloat
              i2 += 1
            }
          case ea: EncoderAttnOp =>
            val headOuts = ea.heads.zipWithIndex.map { case (h, hi) =>
              headRow(h, x, kCache(oi)(hi), vCache(oi)(hi))
            }
            val cat = new Array[Double](ea.catDim)
            var off = 0
            for ((h, ho) <- ea.heads.zip(headOuts)) {
              var j = 0
              while (j < h.dim) { cat(off + j) = ho(j); j += 1 }
              off += h.dim
            }
            val projed = ea.proj match {
              case None => cat
              case Some(l) =>
                val o = new Array[Double](l.outDim)
                var t = 0
                while (t < l.outDim) {
                  var acc: Double = l.bias(t)
                  var j = 0
                  while (j < l.inDim) { acc += cat(j) * l.weight(t * l.inDim + j); j += 1 }
                  o(t) = acc
                  t += 1
                }
                o
            }
            val out = new Array[Float](ea.outDim)
            var i1 = 0
            while (i1 < out.length) {
              val r0 = if (ea.residual) x(i1).toDouble else 0.0
              out(i1) = (projed(i1) + r0).toFloat
              i1 += 1
            }
            x = out
          case at: SelfAttentionOp =>
            val o64 = headRow(at, x, kCache(oi)(0), vCache(oi)(0))
            val out = new Array[Float](o64.length)
            var i0 = 0
            while (i0 < o64.length) { out(i0) = o64(i0).toFloat; i0 += 1 }
            x = out
          case ca: CrossAttnOp =>
            val headOuts = ca.heads.zipWithIndex.map { case (h, hi) =>
              crossHeadRow(h, x, encK(oi)(hi), encV(oi)(hi))
            }
            val cat = new Array[Double](ca.catDim)
            var off = 0
            for ((h, ho) <- ca.heads.zip(headOuts)) {
              var j = 0
              while (j < h.dim) { cat(off + j) = ho(j); j += 1 }
              off += h.dim
            }
            val projed = ca.proj match {
              case None => cat
              case Some(l) =>
                val o = new Array[Double](l.outDim)
                var t = 0
                while (t < l.outDim) {
                  var acc: Double = l.bias(t)
                  var j = 0
                  while (j < l.inDim) { acc += cat(j) * l.weight(t * l.inDim + j); j += 1 }
                  o(t) = acc
                  t += 1
                }
                o
            }
            val out = new Array[Float](ca.outDim)
            var i1 = 0
            while (i1 < out.length) {
              val r0 = if (ca.residual) x(i1).toDouble else 0.0
              out(i1) = (projed(i1) + r0).toFloat
              i1 += 1
            }
            x = out
          case SeqLayerNormOp(gamma, beta, eps) =>
            val cols = x.length
            var mean = 0.0
            var j = 0
            while (j < cols) { mean += x(j); j += 1 }
            mean /= cols
            var va = 0.0
            j = 0
            while (j < cols) { val d0 = x(j) - mean; va += d0 * d0; j += 1 }
            va /= cols
            val inv = 1.0 / math.sqrt(va + eps)
            j = 0
            while (j < cols) {
              x(j) = (((x(j) - mean) * inv) * gamma(j) + beta(j)).toFloat
              j += 1
            }
          case SeqRmsNormOp(gamma, eps) =>
            val cols = x.length
            var ms = 0.0
            var j = 0
            while (j < cols) { val v = x(j).toDouble; ms += v * v; j += 1 }
            ms /= cols
            val inv = 1.0 / math.sqrt(ms + eps)
            j = 0
            while (j < cols) { x(j) = ((x(j) * inv) * gamma(j)).toFloat; j += 1 }
          case SeqGluOp =>
            val half = x.length / 2
            val out = new Array[Float](half)
            var j = 0
            while (j < half) {
              val a = x(j).toDouble
              val b = x(half + j).toDouble
              out(j) = (a * (1.0 / (1.0 + math.exp(-b)))).toFloat
              j += 1
            }
            x = out
          case ff: PosFfnOp =>
            val hid = ff.l1.outDim
            val mid = new Array[Double](hid)
            var h0 = 0
            while (h0 < hid) {
              var acc: Double = ff.l1.bias(h0)
              var j = 0
              while (j < ff.l1.inDim) {
                acc += x(j).toDouble * ff.l1.weight(h0 * ff.l1.inDim + j); j += 1
              }
              mid(h0) = actF64(ff.act, acc)
              h0 += 1
            }
            val out = new Array[Float](ff.l2.outDim)
            var t = 0
            while (t < ff.l2.outDim) {
              var acc: Double = ff.l2.bias(t)
              var j = 0
              while (j < hid) { acc += mid(j) * ff.l2.weight(t * hid + j); j += 1 }
              if (ff.residual) acc += x(t)
              out(t) = acc.toFloat
              t += 1
            }
            x = out
          case ActOp(kind) => applyAct(x, kind)
          case ParamActOp(kind, a, b) => applyParamAct(x, kind, a, b)
          case other => sys.error(s"non-cacheable op $other") // cacheable forbids
        }
        oi += 1
      }
      lastX = x
    }

    /** Vocab logits for the CURRENT sequence — the last position's
      * state through the flat tail (exactly forwardTokens' read-out). */
    def logits(): Array[Float] = runOps(poolIdx + 1, lastX.clone(), 1, pooledDim)

    /** The LAST position's hidden state (post-block, pre-pool/head) —
      * the per-position representation contrastive search's
      * degeneration penalty compares (Su et al. 2022). A copy: the
      * session keeps mutating its own buffer on append. */
    def hidden(): Array[Float] = lastX.clone()

    /** Fork this session for BEAM SEARCH: the child copies the cache
      * BUFFERS (per-position rows are immutable and shared — an O(L)
      * pointer copy) and shares the once-computed encoder projections;
      * appends after the fork diverge. The cheap branching point a
      * beam expansion needs — no re-encode, no prompt replay. */
    def fork(): DecodeSession = {
      val child = new DecodeSession(prompt, encToks, this, nSink, nWindow, relPos)
      child
    }
  }

  /** In-place elementwise activation on a buffer the caller owns. */
  private def applyAct(cur: Array[Float], kind: String): Unit = {
    var i = 0
    kind match {
      case "relu" =>
        while (i < cur.length) { if (cur(i) < 0f) cur(i) = 0f; i += 1 }
      case "sigmoid" =>
        while (i < cur.length) { cur(i) = (1.0 / (1.0 + math.exp(-cur(i).toDouble))).toFloat; i += 1 }
      case "tanh" =>
        while (i < cur.length) { cur(i) = math.tanh(cur(i).toDouble).toFloat; i += 1 }
      case "gelu" =>
        // exact (erf) form: 0.5·x·(1 + erf(x/√2)); erf via the
        // Abramowitz-Stegun 7.1.26 rational approx (|err| < 1.5e-7,
        // below float32 resolution)
        while (i < cur.length) {
          cur(i) = (0.5 * cur(i) * (1.0 + erf(cur(i) / math.sqrt(2.0)))).toFloat
          i += 1
        }
      case "silu" => // x * sigmoid(x)
        while (i < cur.length) {
          val x0 = cur(i).toDouble
          cur(i) = (x0 / (1.0 + math.exp(-x0))).toFloat
          i += 1
        }
      case other => sys.error(s"unknown activation $other")
    }
  }

  private def applyParamAct(cur: Array[Float], kind: String, a: Double, b: Double): Unit = {
    var i = 0
    kind match {
      case "leaky_relu" =>
        while (i < cur.length) {
          if (cur(i) < 0f) cur(i) = (cur(i) * a).toFloat; i += 1
        }
      case "elu" =>
        while (i < cur.length) {
          if (cur(i) < 0f) cur(i) = (a * (math.exp(cur(i).toDouble) - 1.0)).toFloat
          i += 1
        }
      case "hardtanh" =>
        while (i < cur.length) {
          if (cur(i) < a) cur(i) = a.toFloat
          else if (cur(i) > b) cur(i) = b.toFloat
          i += 1
        }
      case "softplus" => // (1/beta)·log1p(exp(beta·x)), linear past threshold
        while (i < cur.length) {
          val bx = a * cur(i)
          if (bx <= b) cur(i) = (math.log1p(math.exp(bx)) / a).toFloat
          i += 1
        }
      case other => sys.error(s"unknown activation $other")
    }
  }

  private def erf(z: Double): Double = {
    val t = 1.0 / (1.0 + 0.3275911 * math.abs(z))
    val y = 1.0 - (((((1.061405429 * t - 1.453152027) * t) + 1.421413741) * t -
      0.284496736) * t + 0.254829592) * t * math.exp(-z * z)
    if (z >= 0) y else -y
  }
}

object TorchScriptModel {

  /** Load from a URL/path. `file:` and bare paths read locally; any other
   * scheme (hdfs:, s3a:, ...) goes through Hadoop FileSystem, mirroring
   * the reference's object_store-based fetch (reference src/lib.rs:64-77). */
  def load(url: String): TorchScriptModel = fromBytes(readAllBytes(url))

  def readAllBytes(url: String): Array[Byte] = {
    val uri = new java.net.URI(url)
    uri.getScheme match {
      case null | "file" =>
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
          if (uri.getScheme == null) url else uri.getPath))
      case _ =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val p = new org.apache.hadoop.fs.Path(url)
        val fs = p.getFileSystem(conf)
        val in = fs.open(p)
        try {
          val out = new ByteArrayOutputStream()
          val buf = new Array[Byte](1 << 16)
          var n = in.read(buf)
          while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
          out.toByteArray
        } finally in.close()
    }
  }

  def fromBytes(bytes: Array[Byte]): TorchScriptModel = {
    val entries = readZip(bytes)
    // Archive layout: <root>/data.pkl + <root>/data/<key> (reference
    // model/iris.spt has root "iris_default_scripted").
    val pklName = entries.keys.find(_.endsWith("/data.pkl"))
      .orElse(entries.keys.find(_ == "data.pkl"))
      .getOrElse(sys.error("not a TorchScript archive: no data.pkl"))
    val root = pklName.stripSuffix("data.pkl")
    entries.get(root + "byteorder").foreach { b =>
      val bo = new String(b, "UTF-8").trim
      require(bo == "little", s"unsupported byteorder: $bo")
    }
    val tree = Pickle.load(entries(pklName))

    // ---- decode the module tree (registration order preserved) ----
    def toNode(obj: PObj): TorchCode.ModuleNode = {
      val attrs = scala.collection.mutable.LinkedHashMap.empty[String, Any]
      obj.state match {
        case d: PDict =>
          d.items.foreach {
            case (PStr(k), v) => attrs(k) = v match {
              case sub: PObj => toNode(sub)
              case t: PTensor => t
              case PInt(n) => n
              case PBool(b) => b
              case PStr(s) => s
              case PFloat(f) => f
              case PNone => null
              case other => other // hook dicts etc. — inert unless read
            }
            case _ => // non-string key: ignore
          }
        case PNone => // parameterless module with empty state
        case other => sys.error(s"module ${obj.cls.name} has non-dict state: $other")
      }
      TorchCode.ModuleNode(s"${obj.cls.module}.${obj.cls.name}", attrs)
    }
    val rootNode = tree match {
      case o: PObj => toNode(o)
      case other => sys.error(s"data.pkl root is not a module object: $other")
    }

    // ---- trace the serialized forward() code into a flat op list ----
    // (registration order ≠ execution order: the reference model
    // registers one shared ReLU after all three Linears and applies it
    // between them — see TorchCode's scaladoc)
    val classes = TorchCode.parseClasses(entries, root)
    val tracer = new TorchCode.Tracer(classes, materializeF32(_, entries, root))
    // a root forward(self, x, y) is the cross-attention entry: the
    // second tensor feeds the encoder leg (tracer.encOps)
    val twoInput = classes.get(rootNode.fqName).exists(_.paramName2.isDefined)
    if (classes.contains(rootNode.fqName) || rootNode.isTorchNn) {
      // input dim starts unknown; the first parameterized op binds it
      val out =
        if (twoInput)
          tracer.trace2(rootNode, TorchCode.Sym.Flat(-1), TorchCode.Sym.Flat(-1))
        else tracer.trace(rootNode, TorchCode.Sym.Flat(-1))
      out match {
        case TorchCode.Sym.Flat(_) => // flat output: logits / probabilities
        case other => sys.error("model returns an unpooled sequence " +
          s"($other): mean(dim=1) / adaptive pool / flatten missing")
      }
    } else {
      // no serialized code (minimal archive): fall back to the legacy
      // heuristic — Linears in registration order with ReLU between
      // consecutive layers, logits out; only Linear/ReLU allowed since
      // nothing else's position can be inferred without code
      val linears = IndexedSeq.newBuilder[TorchCode.ModuleNode]
      def walk(m: TorchCode.ModuleNode): Unit = m.simpleName match {
        case "Linear" => linears += m
        case "ReLU" => // position implied by layer order
        case _ if !m.isTorchNn && m.fqName.startsWith("__torch__") =>
          m.attrs.valuesIterator.foreach {
            case sub: TorchCode.ModuleNode => walk(sub)
            case _ =>
          }
        case _ => sys.error(s"unsupported TorchScript op: ${m.fqName} " +
          "(codeless archive: sequential Linear/ReLU models only)")
      }
      walk(rootNode)
      val ls = linears.result()
      require(ls.nonEmpty, "model has no linear layers")
      var sym: TorchCode.Sym = TorchCode.Sym.Flat(-1)
      for ((l, i) <- ls.zipWithIndex) {
        if (i > 0) tracer.ops += ActOp("relu")
        sym = tracer.applyModule(l, sym)
      }
    }
    // nn.Embedding emits the unpooled lookup; a directly following
    // mean(dim=1) fuses back into the single-op EmbeddingMeanOp so the
    // fastText shape keeps its one-pass pooled GEMM path (and q107-era
    // op lists stay identical)
    // a consumed key_padding_mask (torch.eq(x, pad) fed to an attention
    // module) flips the head embedding into padded-batch mode
    val withPad =
      if (tracer.padMaskId < 0) tracer.ops.result()
      else tracer.ops.result() match {
        case (e: EmbeddingSeqOp) +: rest =>
          require(tracer.padMaskId < e.vocab,
            s"key_padding_mask pad id ${tracer.padMaskId} outside vocab [0, ${e.vocab})")
          e.copy(padIdx = tracer.padMaskId) +: rest
        case _ => sys.error("key_padding_mask traced but the model head is " +
          "not a token-sequence embedding")
      }
    val traced = withPad match {
      case (e: EmbeddingSeqOp) +: SeqMeanPoolOp +: rest if e.padIdx < 0 =>
        EmbeddingMeanOp(e.weight, e.vocab, e.embDim, padIdx = -1) +: rest
      case other => other
    }
    new TorchScriptModel(traced, tracer.encOps.result())
  }

  /** Gather a tensor's values into a row-major Array[Float], honoring
   * offset/strides (torch saves contiguous tensors; we support general
   * strides anyway). */
  private def materializeF32(
      t: PTensor, entries: Map[String, Array[Byte]], root: String): Array[Float] = {
    val raw = entries.getOrElse(root + "data/" + t.storageKey,
      sys.error(s"storage data/${t.storageKey} missing from archive"))
    val elemSize = t.storageCls match {
      case "FloatStorage" => 4
      case "DoubleStorage" => 8
      case "HalfStorage" => 2
      case other => sys.error(s"unsupported storage type: $other")
    }
    val buf = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    def read(idx: Long): Float = t.storageCls match {
      case "FloatStorage" => buf.getFloat((idx * elemSize).toInt)
      case "DoubleStorage" => buf.getDouble((idx * elemSize).toInt).toFloat
      case "HalfStorage" => halfToFloat(buf.getShort((idx * elemSize).toInt))
    }
    val numel = t.shape.product
    val out = new Array[Float](numel)
    val rank = t.shape.length
    val idx = new Array[Int](rank)
    var i = 0
    while (i < numel) {
      var off = t.offset
      var d = 0
      while (d < rank) { off += idx(d).toLong * t.stride(d); d += 1 }
      out(i) = read(off)
      // odometer increment (row-major)
      var d2 = rank - 1
      var carry = true
      while (carry && d2 >= 0) {
        idx(d2) += 1
        if (idx(d2) == t.shape(d2)) { idx(d2) = 0; d2 -= 1 } else carry = false
      }
      i += 1
    }
    out
  }

  private def halfToFloat(h: Short): Float = {
    val bits = h & 0xffff
    val sign = (bits & 0x8000) << 16
    val exp = (bits >>> 10) & 0x1f
    val mant = bits & 0x3ff
    val f =
      if (exp == 0) { // zero / subnormal: value = mant * 2^-24
        val v = mant * (1.0f / (1 << 24))
        if (sign != 0) -v else v
      } else if (exp == 0x1f) {
        if (mant == 0) { if (sign != 0) Float.NegativeInfinity else Float.PositiveInfinity }
        else Float.NaN
      } else java.lang.Float.intBitsToFloat(sign | ((exp + 112) << 23) | (mant << 13))
    f
  }

  /** torch.jit.save emits STORED entries with EXT descriptors, which
   * ZipInputStream rejects — go through ZipFile (central directory). */
  private def readZip(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val tmp = java.nio.file.Files.createTempFile("graft-torchscript", ".zip")
    try {
      java.nio.file.Files.write(tmp, bytes)
      val zf = new java.util.zip.ZipFile(tmp.toFile)
      try {
        val out = mutable.Map.empty[String, Array[Byte]]
        val en = zf.entries()
        while (en.hasMoreElements) {
          val e = en.nextElement()
          if (!e.isDirectory) {
            val in = zf.getInputStream(e)
            val bos = new ByteArrayOutputStream()
            val buf = new Array[Byte](1 << 16)
            var n = in.read(buf)
            while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
            in.close()
            out(e.getName) = bos.toByteArray
          }
        }
        out.toMap
      } finally zf.close()
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }
}
