package graft.torch

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import SptFixture._

/**
 * Encoder-decoder CROSS-ATTENTION, end to end (VERDICT r13 gap #1; the
 * reference runs any such TorchScript through libtorch — reference
 * src/udf.rs:127):
 *
 *  - a TWO-INPUT traced archive (`def forward(self, x, y)`) whose
 *    `nn.MultiheadAttention(x_seq, y_seq, y_seq)` call loads into
 *    [[CrossAttnOp]] + the separate encoder op list, bit-identical to
 *    the programmatically-constructed model;
 *  - the algebraic identity cross(x, x) == self-attention when the two
 *    embeddings share weights — bit-identical logits against the
 *    [[EncoderAttnOp]] path (same f64 math, same rounding points);
 *  - q202 on real fixture docs: engine argmax == an independent all-f64
 *    recompute on EVERY document, with the runner-up gap clearing the
 *    per-op f32 rounding drift (~1e-6) by orders of magnitude;
 *  - the loud-failure surface: distinct key/value sequences.
 */
class TorchCrossSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark

  private def vals(n: Int, seed: Int): Array[Float] =
    Array.tabulate(n)(i => (math.sin(seed * 97 + i * 13.7) * 1.5).toFloat)

  private val (vocab, emb, nHeads, cls) = (9, 4, 2, 3)
  private val ewq = vals(vocab * emb, 501)
  private val ewk = vals(vocab * emb, 509)
  private val inW = vals(3 * emb * emb, 502)
  private val inB = vals(3 * emb, 503)
  private val outW = vals(emb * emb, 504)
  private val outB = vals(emb, 505)
  private val (wf, bf) = (vals(cls * emb, 506), vals(cls, 507))

  /** Two-input fixture: x embeds through emb_q, y through emb_k, one
    * MHA call with query = x-side and key == value == y-side, residual
    * add of the x-side input, mean pool, fc. */
  private def crossNet(attnCall: String): (Module, Map[String, String]) = (
    Module("__torch__.XNet", Seq(
      "training" -> B(false),
      "emb_q" -> Module(EmbeddingCls, Seq(
        "weight" -> Tensor(Seq(vocab, emb), ewq),
        "padding_idx" -> NoneV,
        "training" -> B(false))),
      "emb_k" -> Module(EmbeddingCls, Seq(
        "weight" -> Tensor(Seq(vocab, emb), ewk),
        "padding_idx" -> NoneV,
        "training" -> B(false))),
      "attn" -> mha(inW, inB, outW, outB, emb, nHeads),
      "fc" -> linear(wf, cls, emb, bf))),
    Map("code/__torch__.py" ->
      s"""class XNet(Module):
         |  training : bool
         |  def forward(self: __torch__.XNet,
         |    x: Tensor, y: Tensor) -> Tensor:
         |    emb_q = self.emb_q
         |    e = (emb_q).forward(x, )
         |    emb_k = self.emb_k
         |    k0 = (emb_k).forward(y, )
         |    attn = self.attn
         |$attnCall
         |    a, _1, = _0
         |    r = torch.add(e, a)
         |    p = torch.mean(r, [1], False, None)
         |    fc = self.fc
         |    return (fc).forward(p, )
         |""".stripMargin))

  private lazy val traced: TorchScriptModel = {
    val (model, code) = crossNet("    _0 = (attn).forward(e, k0, k0, )")
    TorchScriptModel.load(writeTemp("crossmha", "crossmha", model, code))
  }

  /** The same model built programmatically (no archive). */
  private lazy val programmatic: TorchScriptModel = new TorchScriptModel(
    IndexedSeq(
      EmbeddingSeqOp(ewq, vocab, emb),
      CrossAttnOp(Mha.split(inW, inB, emb, nHeads),
        proj = Some(LinearLayer(outW, outB, emb, emb)), residual = true),
      SeqMeanPoolOp,
      LinearLayer(wf, bf, cls, emb)),
    encOps = IndexedSeq(EmbeddingSeqOp(ewk, vocab, emb)))

  test("trace: forward(self, x, y) + MHA(x, y, y) loads CrossAttnOp with a separate encoder leg") {
    val m = traced
    assert(m.isCross)
    assert(m.ops.map(_.getClass.getSimpleName) ==
      IndexedSeq("EmbeddingSeqOp", "CrossAttnOp", "SeqMeanPoolOp$", "LinearLayer"),
      m.ops.map(_.getClass.getSimpleName).toString)
    assert(m.encOps.map(_.getClass.getSimpleName) == IndexedSeq("EmbeddingSeqOp"))
    val ca = m.ops(1).asInstanceOf[CrossAttnOp]
    assert(ca.heads.length == nHeads && ca.proj.isDefined && ca.residual)
    // the two embeddings landed on the right streams
    assert(m.ops.head.asInstanceOf[EmbeddingSeqOp].weight.toSeq == ewq.toSeq)
    assert(m.encOps.head.asInstanceOf[EmbeddingSeqOp].weight.toSeq == ewk.toSeq)
  }

  test("traced archive == programmatic model, bit-identical on pair batches") {
    val qs = Array(Array(3, 0, 6), Array(7), Array(1, 2, 3, 4))
    val ks = Array(Array(5, 1, 8, 2, 0, 4), Array(2, 2, 7), Array(6))
    val a = traced.forwardTokensPairBatch(qs, ks)
    val b = programmatic.forwardTokensPairBatch(qs, ks)
    assert(a.toSeq == b.toSeq)
    // single-pair entry agrees with the batch
    assert(traced.forwardTokensPair(qs(0), ks(0)).toSeq ==
      a.slice(0, cls).toSeq)
  }

  test("hand-rolled cross pattern: q/k/v Linears across streams load to the same CrossAttnOp") {
    // two heads spelled out as separate Linears: q over the MAIN
    // sequence, k/v over the ENCODER sequence, scaled scores, softmax,
    // matmul, cat, out-proj, residual — the hand-written decoder block
    def lin(w: Array[Float], b: Array[Float], out: Int, in: Int) =
      linear(w, out, in, b)
    val hd = emb / nHeads
    def slice3(proj: Int, h: Int): (Array[Float], Array[Float]) = {
      val w = java.util.Arrays.copyOfRange(inW,
        (proj * emb + h * hd) * emb, (proj * emb + (h + 1) * hd) * emb)
      val b = java.util.Arrays.copyOfRange(inB, proj * emb + h * hd,
        proj * emb + (h + 1) * hd)
      (w, b)
    }
    val attrs = Seq(
      "training" -> B(false),
      "emb_q" -> Module(EmbeddingCls, Seq(
        "weight" -> Tensor(Seq(vocab, emb), ewq),
        "padding_idx" -> NoneV, "training" -> B(false))),
      "emb_k" -> Module(EmbeddingCls, Seq(
        "weight" -> Tensor(Seq(vocab, emb), ewk),
        "padding_idx" -> NoneV, "training" -> B(false)))) ++
      (0 until nHeads).flatMap { h =>
        val (qw, qb) = slice3(0, h)
        val (kw, kb) = slice3(1, h)
        val (vw, vb) = slice3(2, h)
        Seq(s"wq$h" -> lin(qw, qb, hd, emb),
          s"wk$h" -> lin(kw, kb, hd, emb),
          s"wv$h" -> lin(vw, vb, hd, emb))
      } ++ Seq(
      "wo" -> lin(outW, outB, emb, emb),
      "fc" -> lin(wf, bf, cls, emb))
    val headCode = (0 until nHeads).map { h =>
      s"""    wq$h = self.wq$h
         |    q$h = (wq$h).forward(e, )
         |    wk$h = self.wk$h
         |    k$h = (wk$h).forward(kseq, )
         |    wv$h = self.wv$h
         |    v$h = (wv$h).forward(kseq, )
         |    kt$h = torch.transpose(k$h, -2, -1)
         |    s$h = torch.div(torch.matmul(q$h, kt$h), 1.4142135623730951)
         |    sw$h = torch.softmax(s$h, -1)
         |    a$h = torch.matmul(sw$h, v$h)""".stripMargin
    }.mkString("\n")
    val code = Map("code/__torch__.py" ->
      s"""class HNet(Module):
         |  training : bool
         |  def forward(self: __torch__.HNet,
         |    x: Tensor, y: Tensor) -> Tensor:
         |    emb_q = self.emb_q
         |    e = (emb_q).forward(x, )
         |    emb_k = self.emb_k
         |    kseq = (emb_k).forward(y, )
         |$headCode
         |    a = torch.cat([${(0 until nHeads).map(h => s"a$h").mkString(", ")}], -1)
         |    wo = self.wo
         |    o = (wo).forward(a, )
         |    r = torch.add(e, o)
         |    p = torch.mean(r, [1], False, None)
         |    fc = self.fc
         |    return (fc).forward(p, )
         |""".stripMargin)
    val m = TorchScriptModel.load(writeTemp("crosshand", "crosshand",
      Module("__torch__.HNet", attrs), code))
    assert(m.isCross)
    assert(m.ops.map(_.getClass.getSimpleName) ==
      IndexedSeq("EmbeddingSeqOp", "CrossAttnOp", "SeqMeanPoolOp$", "LinearLayer"))
    // same weights as the MHA-module trace, different scale (1/sqrt(hd)
    // == 1/1.414... here, so actually identical) -> outputs match the
    // programmatic model bit-exactly
    val qs = Array(Array(3, 0, 6), Array(7), Array(1, 2, 3, 4))
    val ks = Array(Array(5, 1, 8, 2, 0, 4), Array(2, 2, 7), Array(6))
    val a = m.forwardTokensPairBatch(qs, ks)
    val b = programmatic.forwardTokensPairBatch(qs, ks)
    assert(a.toSeq == b.toSeq,
      "hand-rolled cross != MHA-module cross on the same weights")
  }

  test("cross(x, x) with shared embeddings == self-attention EncoderAttnOp, bit-identical") {
    val heads = Mha.split(inW, inB, emb, nHeads)
    val proj = Some(LinearLayer(outW, outB, emb, emb))
    val crossM = new TorchScriptModel(
      IndexedSeq(
        EmbeddingSeqOp(ewq, vocab, emb),
        CrossAttnOp(heads, proj, residual = true),
        SeqMeanPoolOp,
        LinearLayer(wf, bf, cls, emb)),
      encOps = IndexedSeq(EmbeddingSeqOp(ewq, vocab, emb)))
    val selfM = new TorchScriptModel(IndexedSeq(
      EmbeddingSeqOp(ewq, vocab, emb),
      EncoderAttnOp(heads, proj, residual = true),
      SeqMeanPoolOp,
      LinearLayer(wf, bf, cls, emb)))
    for (t <- Seq(Array(3, 0, 6, 2, 5, 1), Array(7, 4, 2), Array(5)))
      assert(crossM.forwardTokensPair(t, t).toSeq == selfM.forwardTokens(t).toSeq,
        s"cross(x, x) != self-attention on ${t.toSeq}")
  }

  test("two-sequence batch path == per-row pairs (GEMM tail batching is shape-only)") {
    val qs = Array(Array(1, 2), Array(8, 0, 3), Array(4))
    val ks = Array(Array(0, 5), Array(3, 3, 3, 3), Array(7, 6))
    val batch = programmatic.forwardTokensPairBatch(qs, ks)
    for (i <- qs.indices)
      assert(programmatic.forwardTokensPair(qs(i), ks(i)).toSeq ==
        batch.slice(i * cls, (i + 1) * cls).toSeq)
  }

  /** All-f64 recompute of the q202 cross block (q-emb / k-emb ->
    * cross-attention -> proj + residual -> LN -> FFN + residual -> LN
    * -> mean pool over QUERY positions -> fc). */
  private def crossLogitsF64(m: TorchScriptModel,
      qIds: Array[Int], kIds: Array[Int]): Array[Double] = {
    val e = m.seqHead.get
    val enc = m.encHead.get
    val ca = m.ops.collectFirst { case a: CrossAttnOp => a }.get
    val lns = m.ops.collect { case l: SeqLayerNormOp => l }
    val ff = m.ops.collectFirst { case f: PosFfnOp => f }.get
    val fc = m.ops.collect { case l: LinearLayer => l }.last
    val d = ca.inDim
    val (lq, lk) = (qIds.length, kIds.length)
    val xq = Array.tabulate(lq, d)((p, j) => e.weight(qIds(p) * e.embDim + j).toDouble)
    val xk = Array.tabulate(lk, d)((p, j) => enc.weight(kIds(p) * enc.embDim + j).toDouble)
    def headOut(h: SelfAttentionOp): Array[Array[Double]] = {
      val hd = h.dim
      def pr(x: Array[Array[Double]], n: Int, w: Array[Float], b: Array[Float]) =
        Array.tabulate(n, hd)((p, o) =>
          b(o) + (0 until d).map(j => x(p)(j) * w(o * d + j)).sum)
      val qm = pr(xq, lq, h.wq, h.bq)
      val km = pr(xk, lk, h.wk, h.bk)
      val vm = pr(xk, lk, h.wv, h.bv)
      Array.tabulate(lq) { a =>
        val sc = Array.tabulate(lk)(b0 =>
          (0 until hd).map(j => qm(a)(j) * km(b0)(j)).sum * h.scale)
        val mx = sc.max
        val es = sc.map(s0 => math.exp(s0 - mx))
        val z = es.sum
        Array.tabulate(hd)(j => (0 until lk).map(b0 => es(b0) * vm(b0)(j)).sum / z)
      }
    }
    val heads = ca.heads.map(headOut)
    val pl = ca.proj.get
    def lnF(y: Array[Double], ln: SeqLayerNormOp): Array[Double] = {
      val mean = y.sum / d
      val va = y.map(v => (v - mean) * (v - mean)).sum / d
      val inv = 1.0 / math.sqrt(va + ln.eps)
      Array.tabulate(d)(j => (y(j) - mean) * inv * ln.gamma(j) + ln.beta(j))
    }
    val pooled = new Array[Double](d)
    for (p <- 0 until lq) {
      val cat = heads.flatMap(ho => ho(p)).toArray
      val pj = Array.tabulate(d)(o =>
        pl.bias(o) + (0 until d).map(j => cat(j) * pl.weight(o * d + j)).sum)
      val n1 = lnF(Array.tabulate(d)(j => xq(p)(j) + pj(j)), lns(0))
      val hid = ff.l1.outDim
      val mid = Array.tabulate(hid)(h =>
        math.max(0.0, ff.l1.bias(h) + (0 until d).map(j => n1(j) * ff.l1.weight(h * d + j)).sum))
      val f2 = Array.tabulate(d)(o =>
        ff.l2.bias(o) + (0 until hid).map(h => mid(h) * ff.l2.weight(o * hid + h)).sum)
      val n2 = lnF(Array.tabulate(d)(j => n1(j) + f2(j)), lns(1))
      for (j <- 0 until d) pooled(j) += n2(j) / lq
    }
    Array.tabulate(fc.outDim)(o =>
      fc.bias(o) + (0 until d).map(j => pooled(j) * fc.weight(o * d + j)).sum)
  }

  test("sf0.001: q202 engine argmax == f64 cross recompute on every doc; gap floor holds") {
    val m = graft.SparkEntry.crossModel
    val e = m.seqHead.get
    val fc = m.ops.collect { case l: LinearLayer => l }.last
    val dir = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("q202_torch_crossattn")(spark, dir).collect()
    assert(rows.length > 0)
    val engine = rows.map(r => r.getLong(0) -> r.getInt(1)).toMap
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        slice(transform(
          call_function("regexp_extract_all", col("text"), lit(graft.Tok.Pattern), lit(0)),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % e.vocab),
          1, 12).as("k_ids"))
      .filter(size(col("k_ids")) >= 1)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt).toArray)
    assert(toks.length == engine.size)
    var minGap = Double.MaxValue
    for ((docId, kIds) <- toks) {
      val logits = crossLogitsF64(m, kIds.take(4), kIds)
      val cls0 = logits.indexOf(logits.max)
      assert(engine(docId) == cls0, s"doc $docId: engine ${engine(docId)} vs f64 $cls0")
      val sorted = logits.sorted
      minGap = math.min(minGap, sorted(fc.outDim - 1) - sorted(fc.outDim - 2))
    }
    info(s"q202 min runner-up gap at sf0.001: $minGap")
    assert(minGap > 1e-3, s"cross-attention argmax gap floor violated: $minGap")
  }

  test("cross decode session: per-step logits bit-identical to the pair recompute; gap floor") {
    val m = graft.SparkEntry.crossGenModel
    assert(m.isCross && m.cacheable,
      "the causal+cross+last-pool decoder must be incrementally decodable")
    val dvocab = m.seqHead.get.vocab
    val kvocab = m.encHead.get.vocab
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        slice(transform(
          call_function("regexp_extract_all", col("text"), lit(graft.Tok.Pattern), lit(0)),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % dvocab),
          1, 2).as("d_ids"),
        slice(transform(
          call_function("regexp_extract_all", col("text"), lit(graft.Tok.Pattern), lit(0)),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % kvocab),
          1, 12).as("s_ids"))
      .filter(size(col("d_ids")) >= 1)
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Long](1).map(_.toInt).toArray,
        r.getSeq[Long](2).map(_.toInt).toArray))
    assert(docs.nonEmpty)
    var minGap = Double.MaxValue
    for ((id, dIds, sIds) <- docs) {
      val sess = m.decodeSession(dIds, sIds)
      var cur = dIds
      for (t <- 1 to 2) {
        val cached = sess.logits()
        val full = m.forwardTokensPair(cur, sIds)
        assert(cached.toSeq == full.toSeq,
          s"doc $id step $t: session ${cached.toSeq} != recompute ${full.toSeq}")
        val sorted = cached.map(_.toDouble).sorted
        minGap = math.min(minGap, sorted(sorted.length - 1) - sorted(sorted.length - 2))
        var tid = 0
        for (j <- 1 until cached.length) if (cached(j) > cached(tid)) tid = j
        sess.append(tid)
        cur = cur :+ tid
      }
    }
    info(s"q206 min per-step runner-up gap at sf0.001: $minGap")
    // measured 6.7e-4 over sf0.001 (per-step, 1000 decisions) — the
    // floor sits ~7x under that and ~100x over the per-op f32 drift
    // (~1e-6) that separates the engine from the f64 oracle
    assert(minGap > 1e-4, s"cross-decode argmax gap floor violated: $minGap")
  }

  test("cross speculative decode (q212): greedy-equivalence holds; acceptance mix is real") {
    // the defining property of greedy speculative decoding: the
    // accepted prefix + the target's correction IS the target's own
    // greedy trajectory — verify it per doc against an independent
    // target-only decode, and pin that the int4 draft both agrees
    // (some acceptance) and disagrees (some rejection) at sf0.001
    val m = graft.SparkEntry.crossGenModel
    val draft = TorchQuant.quantize(m, 7)
    assert(draft.isCross && draft.cacheable,
      "the int4 draft must keep the cross KV-session shape")
    val dvocab = m.seqHead.get.vocab
    val kvocab = m.encHead.get.vocab
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        slice(transform(
          call_function("regexp_extract_all", col("text"), lit(graft.Tok.Pattern), lit(0)),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % dvocab),
          1, 2).as("d_ids"),
        slice(transform(
          call_function("regexp_extract_all", col("text"), lit(graft.Tok.Pattern), lit(0)),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % kvocab),
          1, 12).as("s_ids"))
      .filter(size(col("d_ids")) >= 1)
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Long](1).map(_.toInt).toArray,
        r.getSeq[Long](2).map(_.toInt).toArray))
    assert(docs.nonEmpty)
    def greedy3(net: TorchScriptModel, dIds: Array[Int],
        sIds: Array[Int], steps: Int): Seq[Int] = {
      val sess = net.decodeSession(dIds, sIds)
      (1 to steps).map { _ =>
        val lg = sess.logits()
        var tid = 0
        for (j <- 1 until lg.length) if (lg(j) > lg(tid)) tid = j
        sess.append(tid)
        tid
      }
    }
    val accCounts = scala.collection.mutable.Map(0 -> 0, 1 -> 0, 2 -> 0)
    for ((id, dIds, sIds) <- docs) {
      val Seq(d1, d2) = greedy3(draft, dIds, sIds, 2)
      val g = greedy3(m, dIds, sIds, 3)
      // the engine's acceptance rule (q212's when-chain)
      val (nAcc, next) =
        if (g(0) != d1) (0, g(0))
        else if (g(1) != d2) (1, g(1))
        else (2, g(2))
      accCounts(nAcc) += 1
      // greedy-equivalence: by construction of the rule, the emitted
      // (accepted prefix :+ next) must be a prefix of the target's
      // greedy trajectory
      val emitted = (if (nAcc >= 1) Seq(d1) else Nil) ++
        (if (nAcc >= 2) Seq(d2) else Nil) :+ next
      assert(emitted == g.take(nAcc + 1),
        s"doc $id: emitted $emitted != target greedy ${g.take(nAcc + 1)}")
    }
    info(s"q212 sf0.001 acceptance counts: $accCounts")
    assert(accCounts(2) > 0, "the int4 draft never fully agreed — draft useless")
    assert(accCounts(0) + accCounts(1) > 0,
      "the draft never diverged — the verification arm is untested")
  }

  test("cross stochastic speculative (q258): rule replays; identity draft accepts; arms live") {
    val m = graft.SparkEntry.crossGenModel
    val vocab = m.seqHead.get.vocab
    val kvocab = m.encHead.get.vocab
    val bcT = spark.sparkContext.broadcast(m)
    val bcD = spark.sparkContext.broadcast(TorchQuant.quantize(m, 7))
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        slice(transform(
          call_function("regexp_extract_all", col("text"), lit(graft.Tok.Pattern), lit(0)),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % vocab),
          1, 2).as("d_ids"),
        slice(transform(
          call_function("regexp_extract_all", col("text"), lit(graft.Tok.Pattern), lit(0)),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % kvocab),
          1, 12).as("s_ids"))
      .filter(size(col("d_ids")) >= 1)
    val out = graft.torch.Torch.speculativeSampled(df, "doc_id",
        "d_ids", bcT, bcD, srcCol = "s_ids")
      .select("doc_id", "draft_tok", "accepted", "final_tok")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getBoolean(2), r.getInt(3)))).toMap
    val nAcc = out.values.count(_._2)
    info(s"q258 sf0.001 acceptance: $nAcc/${out.size}")
    assert(nAcc > 0 && nAcc < out.size,
      "degenerate acceptance — the int8 cross draft always/never agrees")
    // replay the whole rule per doc against the session forwards
    def q6(x: Double): Double =
      BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    def draw(id: Long, salt: String): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:spec:$salt".getBytes("UTF-8"))
      (java.lang.Long.parseLong(
        md.take(4).map(b => f"$b%02x").mkString, 16) % 1000000L) / 1e6
    }
    def probs6(mm: TorchScriptModel, p: Array[Int],
        src: Array[Int]): IndexedSeq[Double] = {
      val lg = mm.decodeSession(p, src).logits()
      val mx = (0 until vocab).map(j => lg(j).toDouble).max
      val z = (0 until vocab).map(j => math.exp(lg(j).toDouble - mx)).sum
      (0 until vocab).map(j => q6(math.exp(lg(j).toDouble - mx) / z))
    }
    def pick(mass: IndexedSeq[Double], u: Double): Int = {
      val order = (0 until vocab).filter(mass(_) > 0.0)
        .sortBy(j => (-mass(j), j))
      var run = 0.0
      var chosen = order.last
      var done = false
      val total = order.map(mass).sum
      for (j <- order if !done) {
        run += mass(j)
        if (q6(run / total) > u) { chosen = j; done = true }
      }
      chosen
    }
    val dm = TorchQuant.quantize(m, 7)
    val fixtures = df.collect().map(r => (r.getLong(0),
      r.getSeq[Long](1).map(_.toInt).toArray,
      r.getSeq[Long](2).map(_.toInt).toArray))
    for ((id, dIds, sIds) <- fixtures) {
      val (dx, acc, fx) = out(id)
      val qp = probs6(dm, dIds, sIds)
      val pp = probs6(m, dIds, sIds)
      val expDx = pick(qp, draw(id, "d1"))
      assert(dx == expDx, s"doc $id cross draft pick $dx != replay $expDx")
      val expAcc = draw(id, "a1") < q6(math.min(1.0, pp(dx) / qp(dx)))
      assert(acc == expAcc, s"doc $id cross acceptance $acc != replay $expAcc")
      val expFx =
        if (expAcc) dx
        else {
          val resid = (0 until vocab).map(j => math.max(0.0, pp(j) - qp(j)))
          if (resid.forall(_ == 0.0)) dx else pick(resid, draw(id, "r1"))
        }
      assert(fx == expFx, s"doc $id cross final $fx != replay $expFx")
    }
    // identity draft: ratio quantizes to exactly 1 — always accepts
    val self = graft.torch.Torch.speculativeSampled(df, "doc_id",
        "d_ids", bcT, bcT, srcCol = "s_ids")
      .select("doc_id", "draft_tok", "accepted", "final_tok").collect()
    assert(self.forall(r => r.getBoolean(2) && r.getInt(1) == r.getInt(3)),
      "identity cross draft must always accept")
  }

  test("cross gamma speculative (q261): gamma=1 replays q258; identity accepts all; arms live") {
    val m = graft.SparkEntry.crossGenModel
    val vocab = m.seqHead.get.vocab
    val kvocab = m.encHead.get.vocab
    val bcT = spark.sparkContext.broadcast(m)
    val bcD = spark.sparkContext.broadcast(TorchQuant.quantize(m, 7))
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        slice(transform(
          call_function("regexp_extract_all", col("text"), lit(graft.Tok.Pattern), lit(0)),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % vocab),
          1, 2).as("d_ids"),
        slice(transform(
          call_function("regexp_extract_all", col("text"), lit(graft.Tok.Pattern), lit(0)),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % kvocab),
          1, 12).as("s_ids"))
      .filter(size(col("d_ids")) >= 1)
    val g1 = graft.torch.Torch.speculativeSampledGamma(df, "doc_id",
        "d_ids", bcT, bcD, gamma = 1, srcCol = "s_ids")
      .select("doc_id", "draft_toks", "n_accepted", "out_toks")
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Int](1), r.getInt(2), r.getSeq[Int](3)))).toMap
    val pair = graft.torch.Torch.speculativeSampled(df, "doc_id",
        "d_ids", bcT, bcD, srcCol = "s_ids")
      .select("doc_id", "draft_tok", "accepted", "final_tok")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getBoolean(2), r.getInt(3)))).toMap
    assert(g1.keySet == pair.keySet)
    for ((id, (dts, n, out)) <- g1) {
      val (dx, acc, fx) = pair(id)
      assert(dts == Seq(dx), s"doc $id gamma=1 draft $dts != q258 $dx")
      assert((n == 1) == acc, s"doc $id gamma=1 n=$n vs q258 $acc")
      if (acc) assert(out.head == dx)
      else assert(out == Seq(fx), s"doc $id correction $out != q258 $fx")
    }
    // identity draft at gamma = 2: every position accepts, bonus emits
    val self = graft.torch.Torch.speculativeSampledGamma(df, "doc_id",
        "d_ids", bcT, bcT, gamma = 2, srcCol = "s_ids")
      .select("doc_id", "draft_toks", "n_accepted", "out_toks").collect()
    assert(self.forall(r => r.getInt(2) == 2 &&
      r.getSeq[Int](3).length == 3 &&
      r.getSeq[Int](3).take(2) == r.getSeq[Int](1)),
      "identity cross draft must accept every drafted position")
    // acceptance arms live at gamma = 2 with the int8 draft
    val g2 = graft.torch.Torch.speculativeSampledGamma(df, "doc_id",
        "d_ids", bcT, bcD, gamma = 2, srcCol = "s_ids")
      .select("n_accepted").collect().map(_.getInt(0))
    info(s"q261 sf0.001 n_accepted histogram: " +
      (0 to 2).map(k => s"$k:${g2.count(_ == k)}").mkString(" "))
    assert(g2.exists(_ < 2) && g2.exists(_ == 2),
      "degenerate cross gamma=2 acceptance mix")
  }

  test("cross knob parity: neutral knobs reduce bit-exactly; knobs bite; eos truncates") {
    val m = graft.SparkEntry.crossGenModel
    val dvocab = m.seqHead.get.vocab
    val kvocab = m.encHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        slice(transform(
          call_function("regexp_extract_all", col("text"), lit(graft.Tok.Pattern), lit(0)),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % dvocab),
          1, 2).as("d_ids"),
        slice(transform(
          call_function("regexp_extract_all", col("text"), lit(graft.Tok.Pattern), lit(0)),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % kvocab),
          1, 12).as("s_ids"))
      .filter(size(col("d_ids")) >= 1)
    def collectGen(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "gen")
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // sampled: neutral knob values must be BIT-IDENTICAL to the bare
    // q207 path (one shared kernel, identical f64 term order)
    val bare = collectGen(Torch.generateSampled(df, "doc_id", "d_ids",
      "gen", bc, steps = 2, temperature = 0.5, topP = 0.9, srcCol = "s_ids"))
    val neutral = collectGen(Torch.generateSampled(df, "doc_id", "d_ids",
      "gen", bc, steps = 2, temperature = 0.5, topP = 0.9,
      topK = dvocab, repetitionPenalty = 1.0, noRepeatNgram = 0, minP = 0.0, srcCol = "s_ids"))
    assert(neutral == bare, "neutral cross knobs must reduce bit-exactly")
    // the q220 combination must actually move picks
    val knobbed = collectGen(Torch.generateSampled(df, "doc_id", "d_ids",
      "gen", bc, steps = 2, temperature = 0.5, topP = 0.9,
      topK = 3, repetitionPenalty = 1.25, noRepeatNgram = 2, srcCol = "s_ids"))
    assert(knobbed.count { case (k, v) => bare(k) != v } > 0,
      "the cross knob combination never changed a pick")
    // greedy eos: greedy-with-eos == plain greedy truncated at eos
    val plain = collectGen(Torch.generateGreedy(df, "d_ids",
      "gen", bc, steps = 2, srcCol = "s_ids"))
    val eosed = collectGen(Torch.generateGreedy(df, "d_ids",
      "gen", bc, steps = 2, eosId = 5, srcCol = "s_ids"))
    for ((id, g) <- plain) {
      val cut = g.indexOf(5)
      val expect = if (cut < 0) g else g.take(cut + 1)
      assert(eosed(id) == expect, s"doc $id: eos ${eosed(id)} != $expect")
    }
    assert(eosed.values.exists(_.length < 2), "cross eos never stopped a row")
  }

  test("TWO-BLOCK cross decoder sessions: per-op caches and shared enc projections compose") {
    // a second (self-attn + LN + cross-attn + LN + FFN + LN) block —
    // every block's cross ops share the ONE per-row encoder output;
    // pinned bit-exactly against the pair recompute
    val base = graft.SparkEntry.crossGenModel
    val blk = base.ops.slice(2, 8) // self + LN + cross + LN + FFN + LN
    val m = new TorchScriptModel(
      (base.ops.take(2) ++ blk ++ blk ++ base.ops.drop(8)).toIndexedSeq,
      encOps = base.encOps)
    assert(m.isCross && m.cacheable)
    val qs = Array(Array(3, 0), Array(7), Array(1, 2, 3))
    val ks = Array(Array(5, 1, 8, 2, 0, 4), Array(2, 2, 7), Array(6, 30, 12))
    for (i <- qs.indices) {
      val sess = m.decodeSession(qs(i), ks(i))
      var cur = qs(i)
      for (t <- 1 to 3) {
        val cached = sess.logits()
        val full = m.forwardTokensPair(cur, ks(i))
        assert(cached.toSeq == full.toSeq, s"row $i step $t (2-block cross)")
        var tid = 0
        for (j <- 1 until cached.length) if (cached(j) > cached(tid)) tid = j
        sess.append(tid)
        cur = cur :+ tid
      }
    }
  }

  test("cross beam search: step-1 top log-prob == greedy; joint reranking is real; margins floor") {
    import org.apache.spark.sql.functions.{col => c}
    val m = graft.SparkEntry.crossGenModel
    val bc = spark.sparkContext.broadcast(m)
    val dvocab = m.seqHead.get.vocab
    val kvocab = m.encHead.get.vocab
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(c("doc_id"),
        slice(transform(
          call_function("regexp_extract_all", c("text"), lit(graft.Tok.Pattern), lit(0)),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % dvocab),
          1, 2).as("d_ids"),
        slice(transform(
          call_function("regexp_extract_all", c("text"), lit(graft.Tok.Pattern), lit(0)),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % kvocab),
          1, 12).as("s_ids"))
      .filter(size(c("d_ids")) >= 1)
    val beams = Torch.beamSearch(df, "d_ids", "beams", bc,
        steps = 2, width = 2, srcCol = "s_ids")
      .select("doc_id", "beams").collect()
      .map(r => r.getLong(0) -> r.getSeq[Seq[Int]](1)).toMap
    val greedy = Torch.generateGreedy(df, "d_ids", "gen", bc, steps = 2, srcCol = "s_ids")
      .select("doc_id", "gen").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(beams.nonEmpty && beams.keySet == greedy.keySet)
    // kept-vs-dropped joint margin: recompute the 2-step expansion from
    // the (bit-identical, spec-pinned) session logits and check the
    // rank-2/rank-3 joint gap clears cross-libm exp/log ulps (~1e-15)
    val rows = df.collect().map(r => (r.getLong(0),
      r.getSeq[Long](1).map(_.toInt).toArray, r.getSeq[Long](2).map(_.toInt).toArray))
    var minMargin = Double.MaxValue
    def lps(l: Array[Float]): Array[Double] = {
      val mx = l.map(_.toDouble).max
      val z = l.map(v => math.exp(v.toDouble - mx)).sum
      l.map(v => v.toDouble - (math.log(z) + mx))
    }
    var reranked = 0
    for ((id, dIds, sIds) <- rows) {
      val s0 = m.decodeSession(dIds, sIds)
      val lp1 = lps(s0.logits())
      val b1 = (0 until lp1.length).sortBy(j => (-lp1(j), j)).take(2)
      // the step-1 TOP log-prob IS the greedy first token (first max
      // wins on ties both ways since lp is a monotone map of logits)
      assert(b1.head == greedy(id).head,
        s"doc $id: step-1 top log-prob ${b1.head} != greedy ${greedy(id).head}")
      // the FINAL beam-1 may legitimately start with the step-1
      // runner-up when its best continuation wins the joint — count it
      if (beams(id).head.head != greedy(id).head) reranked += 1
      val joints = b1.zipWithIndex.flatMap { case (tok, bi) =>
        val sc = s0.fork()
        sc.append(tok)
        val lp2 = lps(sc.logits())
        lp2.indices.map(t2 => (lp1(tok) + lp2(t2), bi, t2))
      }.sortBy { case (j, bi, t2) => (-j, bi, t2) }
      minMargin = math.min(minMargin, joints(1)._1 - joints(2)._1)
    }
    info(s"q208 docs where the joint reranked past greedy: $reranked/${rows.length}")
    info(s"q208 min kept-vs-dropped joint margin: $minMargin")
    assert(minMargin > 1e-9, s"beam joint margin floor violated: $minMargin")
  }

  test("sampled cross decode: topP -> 0 reduces to greedy pair decode; top-p 0.9 diverges") {
    import org.apache.spark.sql.functions.{col => c}
    val m = graft.SparkEntry.crossGenModel
    val bc = spark.sparkContext.broadcast(m)
    val dvocab = m.seqHead.get.vocab
    val kvocab = m.encHead.get.vocab
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(c("doc_id"),
        slice(transform(
          call_function("regexp_extract_all", c("text"), lit(graft.Tok.Pattern), lit(0)),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % dvocab),
          1, 2).as("d_ids"),
        slice(transform(
          call_function("regexp_extract_all", c("text"), lit(graft.Tok.Pattern), lit(0)),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % kvocab),
          1, 12).as("s_ids"))
      .filter(size(c("d_ids")) >= 1)
    def collectGen(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "gen").collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val greedy = collectGen(Torch.generateGreedy(df, "d_ids", "gen",
      bc, steps = 2, srcCol = "s_ids"))
    val reduced = collectGen(Torch.generateSampled(df, "doc_id", "d_ids",
      "gen", bc, steps = 2, temperature = 0.5, topP = 1e-6, srcCol = "s_ids"))
    assert(reduced == greedy, "topP -> 0 must equal greedy cross decode")
    val sampled = collectGen(Torch.generateSampled(df, "doc_id", "d_ids",
      "gen", bc, steps = 2, temperature = 0.5, topP = 0.9, srcCol = "s_ids"))
    val moved = sampled.count { case (k, v) => greedy(k) != v }
    assert(moved > sampled.size / 10,
      s"only $moved/${sampled.size} rows left the greedy trajectory")
  }

  test("SQL surface: a two-input archive registers as a 2-arg scalar function") {
    val (model, code) = crossNet("    _0 = (attn).forward(e, k0, k0, )")
    val path = writeTemp("crossudf", "crossudf", model, code)
    val m = Torch.createFunction(spark, "crossf", path)
    assert(m.isCross)
    val got = spark.sql(
      "SELECT crossf(array(3, 0, 6), array(5, 1, 8, 2)) AS o").collect()(0)
      .getSeq[Float](0)
    val want = m.forwardTokensPair(Array(3, 0, 6), Array(5, 1, 8, 2)).toSeq
    assert(got == want, s"SQL $got != direct $want")
    // null contract: either side null -> null
    val n = spark.sql(
      "SELECT crossf(CAST(NULL AS ARRAY<DOUBLE>), array(1)) AS o").collect()(0)
    assert(n.isNullAt(0))
  }

  test("q210 seq2seq NLL: causal consistency, distribution, and keep-margin floor") {
    val m = graft.SparkEntry.crossGenModel
    val dvocab = m.seqHead.get.vocab
    val kvocab = m.encHead.get.vocab
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        slice(transform(
          call_function("regexp_extract_all", col("text"), lit(graft.Tok.Pattern), lit(0)),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % dvocab),
          1, 6).as("d_ids"),
        slice(transform(
          call_function("regexp_extract_all", col("text"), lit(graft.Tok.Pattern), lit(0)),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % kvocab),
          1, 12).as("s_ids"))
      .filter(size(col("d_ids")) >= 2)
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Long](1).map(_.toInt).toArray,
        r.getSeq[Long](2).map(_.toInt).toArray))
    assert(docs.nonEmpty)
    val thresh = 6.4375
    val nlls = docs.map { case (_, d, k) => m.seq2seqMeanNll(d, k) }
    val sorted = nlls.sorted
    info(s"q210 nll p10/p50/p90: ${sorted((nlls.length * 0.1).toInt)} / " +
      s"${sorted(nlls.length / 2)} / ${sorted((nlls.length * 0.9).toInt)}")
    val minMargin = nlls.map(v => math.abs(v - thresh)).min
    info(s"q210 min |nll - threshold| margin: $minMargin")
    // the engine-vs-f64-oracle drift is the per-op f32 rounding
    // (~1e-6/logit); the margin floor must clear it by orders of
    // magnitude for the keep decision to hash-match
    assert(minMargin > 1e-4, s"keep-margin floor violated: $minMargin")
    // causal consistency: scoring a PREFIX equals the prefix of the
    // same computation (position states never see later tokens)
    val (_, d0, k0) = docs.head
    if (d0.length >= 3) {
      val full = m.seq2seqMeanNll(d0, k0)
      val pre = m.seq2seqMeanNll(d0.take(d0.length - 1), k0)
      // means over different counts: compare via sums
      val sumFull = full * (d0.length - 1)
      val sumPre = pre * (d0.length - 2)
      assert(sumFull > sumPre - 1e-12, "prefix NLL sum exceeds the full sum")
    }
  }

  test("cross greedy with banned phrases + watermark == a direct argmax over the cross session") {
    // srcCol makes every generateGreedy knob reach a cross model; the
    // picks must be the per-step argmax over decodeSession(p, src)
    // logits with the same bias and bans, first max winning
    val m = graft.SparkEntry.crossGenModel
    val dvocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val df = graft.Tok.spread(spark.read.parquet("graftbench/data/sf0.01/documents.parquet"))
      .select(col("doc_id"), graft.Tok.ids(col("text"), dvocab, 2).as("d_ids"),
        graft.Tok.ids(col("text"), m.encHead.get.vocab, 12).as("s_ids"))
    val phrases = Seq.tabulate(dvocab)(t => Seq(t, t)) // no immediate repeat
    val (steps, delta) = (3, 1.0)
    def green(prev: Int, j: Int): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5").digest(s"$prev:$j".getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map(b => f"$b%02x").mkString, 16) % 2 < 1
    }
    def gen(knobs: Boolean) = Torch.generateGreedy(df, "d_ids", "gen", bc, steps = steps,
        bannedPhrases = if (knobs) phrases else Nil, watermarkDelta = if (knobs) delta else 0.0,
        srcCol = "s_ids")
      .select("doc_id", "d_ids", "s_ids", "gen").collect()
    val got = gen(knobs = true)
    assert(got.length > 10)
    for (r <- got) {
      val p = r.getSeq[Int](1).toArray
      val sess = m.decodeSession(p, r.getSeq[Int](2).toArray)
      val full = scala.collection.mutable.ArrayBuffer.from(p)
      for (_ <- 0 until steps) {
        val lg = sess.logits()
        val ok = (0 until dvocab).filterNot(j => phrases.exists(ph =>
          ph.last == j && full.takeRight(ph.length - 1) == ph.init))
        val tok = ok.maxBy(j => (lg(j).toDouble + (if (green(full.last, j)) delta else 0.0), -j))
        full += tok
        sess.append(tok)
      }
      assert(r.getSeq[Int](3) == full.drop(p.length), s"doc ${r.getLong(0)}")
    }
    val plain = gen(knobs = false).map(r => r.getLong(0) -> r.getSeq[Int](3)).toMap
    assert(got.count(r => plain(r.getLong(0)) != r.getSeq[Int](3)) > 0,
      "the bans and the watermark never moved a cross pick")
  }

  test("loud failure: distinct key/value sequences") {
    val (model, code) = {
      val (m0, c0) = crossNet("    _0 = (attn).forward(e, k0, k1, )")
      // a SECOND embedding of y: key and value become distinct traced
      // values — unsupported, must fail at load with the applyMha error
      (m0, c0.map { case (p, t) =>
        p -> t.replace("    attn = self.attn",
          "    k1 = (emb_k).forward(y, )\n    attn = self.attn")
      })
    }
    val err = intercept[Exception] {
      TorchScriptModel.load(writeTemp("crossbad", "crossbad", model, code))
    }
    assert(err.getMessage.contains("distinct query/key/value"),
      err.getMessage)
  }

  test("loud failure: an encoder-leg op EMITTED after cross-attention consumed it") {
    // re-embedding is held (no emission) and allowed post-consumption;
    // a LayerNorm module on the enc sequence EMITS SeqLayerNormOp ->
    // the frozen-builder poison must fire (the leg is computed once
    // and shared; mutating it afterwards would be silently wrong)
    val (m0, c0) = crossNet("    _0 = (attn).forward(e, k0, k0, )")
    val attrs = m0.attrs ++ Seq("ln" -> Module(
      "__torch__.torch.nn.modules.normalization.LayerNorm", Seq(
        "weight" -> Tensor(Seq(emb), Array.fill(emb)(1f)),
        "bias" -> Tensor(Seq(emb), new Array[Float](emb)),
        "eps" -> F(1e-5),
        "elementwise_affine" -> B(true),
        "training" -> B(false))))
    val code = c0.map { case (p, t) =>
      p -> t.replace("    r = torch.add(e, a)",
        "    ln = self.ln\n    k2 = (ln).forward(k0, )\n    r = torch.add(e, a)")
    }
    val err = intercept[Exception] {
      TorchScriptModel.load(writeTemp("crossfrozen", "crossfrozen",
        Module("__torch__.XNet", attrs), code))
    }
    assert(err.getMessage.contains("encoder-leg op emitted AFTER"),
      err.getMessage)
  }

  test("loud failure: cross op widths must match the encoder leg") {
    val err = intercept[IllegalArgumentException] {
      new TorchScriptModel(
        IndexedSeq(
          EmbeddingSeqOp(ewq, vocab, emb),
          CrossAttnOp(Mha.split(inW, inB, emb, nHeads),
            proj = Some(LinearLayer(outW, outB, emb, emb)), residual = true),
          SeqMeanPoolOp,
          LinearLayer(wf, bf, cls, emb)),
        encOps = IndexedSeq(EmbeddingSeqOp(vals(vocab * 8, 511), vocab, 8)))
    }
    assert(err.getMessage.contains("encoder leg emits"), err.getMessage)
  }
}
