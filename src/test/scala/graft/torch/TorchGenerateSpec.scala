package graft.torch

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q194's greedy-decoding contract on real fixture data: every
  * document's THREE generated tokens must equal an independent all-f64
  * recompute that re-runs the whole causal block on the grown sequence
  * each step, the per-step argmax gap must clear the per-op f32
  * rounding drift by orders of magnitude, generation must be
  * append-consistent (k=1's token is k=3's first), and reading past
  * the position table must fail loudly, never wrap. */
class TorchGenerateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def f64Step(m: TorchScriptModel, ids: Array[Int]): (Int, Double) = {
    val e = m.seqHead.get
    val pe = m.ops.collectFirst { case p: PosEmbedOp => p }.get
    val ea = m.ops.collectFirst { case a: EncoderAttnOp => a }.get
    val lns = m.ops.collect { case l: SeqLayerNormOp => l }
    val ff = m.ops.collectFirst { case f: PosFfnOp => f }.get
    val fc = m.ops.collect { case l: LinearLayer => l }.last
    val d = ea.inDim
    val L = ids.length
    val x = Array.tabulate(L, d)((p, j) =>
      (e.weight(ids(p) * e.embDim + j).toDouble + pe.weight(p * d + j)).toFloat.toDouble)
    def causalHead(h: SelfAttentionOp): Array[Array[Double]] = {
      val hd = h.dim
      def pr(w: Array[Float], b: Array[Float]) = Array.tabulate(L, hd)((p, o) =>
        b(o) + (0 until d).map(j => x(p)(j) * w(o * d + j)).sum)
      val (qm, km, vm) = (pr(h.wq, h.bq), pr(h.wk, h.bk), pr(h.wv, h.bv))
      Array.tabulate(L) { a =>
        val lim = a + 1
        val sc = Array.tabulate(lim)(b0 =>
          (0 until hd).map(j => qm(a)(j) * km(b0)(j)).sum * h.scale)
        val mx = sc.max
        val es = sc.map(s0 => math.exp(s0 - mx))
        val z = es.sum
        Array.tabulate(hd)(j => (0 until lim).map(b0 => es(b0) * vm(b0)(j)).sum / z)
      }
    }
    val heads = ea.heads.map(causalHead)
    val pl = ea.proj.get
    def lnF(y: Array[Double], ln: SeqLayerNormOp): Array[Double] = {
      val mean = y.sum / d
      val va = y.map(v => (v - mean) * (v - mean)).sum / d
      val inv = 1.0 / math.sqrt(va + ln.eps)
      Array.tabulate(d)(j => (y(j) - mean) * inv * ln.gamma(j) + ln.beta(j))
    }
    val p = L - 1
    val cat = heads.flatMap(ho => ho(p)).toArray
    val pj = Array.tabulate(d)(o =>
      pl.bias(o) + (0 until d).map(j => cat(j) * pl.weight(o * d + j)).sum)
    val n1 = lnF(Array.tabulate(d)(j => x(p)(j) + pj(j)), lns(0))
    val hid = ff.l1.outDim
    val mid = Array.tabulate(hid)(h =>
      math.max(0.0, ff.l1.bias(h) + (0 until d).map(j => n1(j) * ff.l1.weight(h * d + j)).sum))
    val f2 = Array.tabulate(d)(o =>
      ff.l2.bias(o) + (0 until hid).map(h => mid(h) * ff.l2.weight(o * hid + h)).sum)
    val z2 = lnF(Array.tabulate(d)(j => n1(j) + f2(j)), lns(1))
    val logits = Array.tabulate(fc.outDim)(o =>
      fc.bias(o) + (0 until d).map(j => z2(j) * fc.weight(o * d + j)).sum)
    val sorted = logits.sorted
    (logits.indexOf(logits.max), sorted(fc.outDim - 1) - sorted(fc.outDim - 2))
  }

  private def f64Logits(m: TorchScriptModel, ids: Array[Int]): Array[Double] = {
    // same chain as f64Step but exposing the logits (for beam scoring)
    val e = m.seqHead.get
    val pe = m.ops.collectFirst { case p: PosEmbedOp => p }.get
    val ea = m.ops.collectFirst { case a: EncoderAttnOp => a }.get
    val lns = m.ops.collect { case l: SeqLayerNormOp => l }
    val ff = m.ops.collectFirst { case f: PosFfnOp => f }.get
    val fc = m.ops.collect { case l: LinearLayer => l }.last
    val d = ea.inDim
    val L = ids.length
    val x = Array.tabulate(L, d)((p, j) =>
      (e.weight(ids(p) * e.embDim + j).toDouble + pe.weight(p * d + j)).toFloat.toDouble)
    def causalHead(h: SelfAttentionOp): Array[Double] = {
      val hd = h.dim
      def pr(w: Array[Float], b: Array[Float]) = Array.tabulate(L, hd)((p, o) =>
        b(o) + (0 until d).map(j => x(p)(j) * w(o * d + j)).sum)
      val (qm, km, vm) = (pr(h.wq, h.bq), pr(h.wk, h.bk), pr(h.wv, h.bv))
      val a = L - 1
      val sc = Array.tabulate(L)(b0 =>
        (0 until hd).map(j => qm(a)(j) * km(b0)(j)).sum * h.scale)
      val mx = sc.max
      val es = sc.map(s0 => math.exp(s0 - mx))
      val z = es.sum
      Array.tabulate(hd)(j => (0 until L).map(b0 => es(b0) * vm(b0)(j)).sum / z)
    }
    val pl = ea.proj.get
    def lnF(y: Array[Double], ln: SeqLayerNormOp): Array[Double] = {
      val mean = y.sum / d
      val va = y.map(v => (v - mean) * (v - mean)).sum / d
      val inv = 1.0 / math.sqrt(va + ln.eps)
      Array.tabulate(d)(j => (y(j) - mean) * inv * ln.gamma(j) + ln.beta(j))
    }
    val cat = ea.heads.flatMap(causalHead).toArray
    val pj = Array.tabulate(d)(o =>
      pl.bias(o) + (0 until d).map(j => cat(j) * pl.weight(o * d + j)).sum)
    val n1 = lnF(Array.tabulate(d)(j => x(L - 1)(j) + pj(j)), lns(0))
    val hid = ff.l1.outDim
    val mid = Array.tabulate(hid)(h =>
      math.max(0.0, ff.l1.bias(h) + (0 until d).map(j => n1(j) * ff.l1.weight(h * d + j)).sum))
    val f2 = Array.tabulate(d)(o =>
      ff.l2.bias(o) + (0 until hid).map(h => mid(h) * ff.l2.weight(o * hid + h)).sum)
    val z2 = lnF(Array.tabulate(d)(j => n1(j) + f2(j)), lns(1))
    Array.tabulate(fc.outDim)(o =>
      fc.bias(o) + (0 until d).map(j => z2(j) * fc.weight(o * d + j)).sum)
  }

  test("sf0.001 beam search: 2x2 beams == f64 recompute; kept-vs-dropped margins floor") {
    val m = graft.SparkEntry.genModel
    val e = m.seqHead.get
    val vocab = e.vocab
    val dir = "/root/testdata/sf0.001"
    val engine = graft.SparkEntry.queries("q197_torch_beam")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    assert(engine.nonEmpty)
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        slice(transform(
          call_function("regexp_extract_all", col("text"), lit(graft.Tok.Pattern), lit(0)),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % vocab),
          1, 12).as("tok_ids"))
      .filter(size(col("tok_ids")) >= 1)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt).toArray)
    def logProbs(ids: Array[Int]): Array[Double] = {
      val lg = f64Logits(m, ids)
      val mx = lg.max
      val lse = math.log(lg.map(v => math.exp(v - mx)).sum) + mx
      lg.map(_ - lse)
    }
    var minMargin = Double.MaxValue
    for ((docId, ids) <- toks) {
      val lp1 = logProbs(ids)
      val b1 = (0 until vocab).sortBy(t => (-lp1(t), t)).take(2)
      minMargin = math.min(minMargin,
        lp1(b1(1)) - (0 until vocab).filterNot(b1.contains).map(lp1).max)
      val cands = b1.zipWithIndex.flatMap { case (t1, rank) =>
        val lp2 = logProbs(ids :+ t1)
        (0 until vocab).map(t2 => (lp1(t1) + lp2(t2), rank, t1, t2))
      }
      val ranked = cands.sortBy { case (s, r, _, t2) => (-s, r, t2) }
      val kept = ranked.take(2)
      minMargin = math.min(minMargin, kept(1)._1 - ranked(2)._1)
      val exp = (kept(0)._3, kept(0)._4, kept(1)._3, kept(1)._4)
      assert(engine(docId) == exp, s"doc $docId: ${engine(docId)} vs $exp")
    }
    assert(minMargin > 1e-4, s"beam margin floor violated: $minMargin")
  }

  test("sf0.001: 3-step generation == f64 recompute per step; per-step gap floor holds") {
    val m = graft.SparkEntry.genModel
    val e = m.seqHead.get
    val dir = "/root/testdata/sf0.001"
    val engine = graft.SparkEntry.queries("q194_torch_generate")(spark, dir)
      .collect().map(r => r.getLong(0) -> Seq(r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(engine.nonEmpty)
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        slice(transform(
          call_function("regexp_extract_all", col("text"), lit(graft.Tok.Pattern), lit(0)),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % e.vocab),
          1, 12).as("tok_ids"))
      .filter(size(col("tok_ids")) >= 1)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt).toArray)
    assert(toks.length == engine.size)
    var minGap = Double.MaxValue
    var distinctSeqs = Set.empty[Seq[Int]]
    for ((docId, ids0) <- toks) {
      var ids = ids0
      val got = engine(docId)
      for (t <- 0 until 3) {
        val (tid, gap) = f64Step(m, ids)
        assert(got(t) == tid, s"doc $docId step $t: engine ${got(t)} vs f64 $tid")
        minGap = math.min(minGap, gap)
        ids = ids :+ tid
      }
      distinctSeqs += got
    }
    assert(minGap > 1e-3, s"argmax gap floor violated: $minGap")
    // the fixture must actually exercise different trajectories
    assert(distinctSeqs.size > 1, "degenerate fixture: every doc generates the same tokens")
  }

  test("constrained decoding: banned ids never appear; binding bans change the trajectory") {
    val m = graft.SparkEntry.genModel
    val dir = "/root/testdata/sf0.001"
    val banned = Set(1, 4)
    val con = graft.SparkEntry.queries("q195_torch_gen_banned")(spark, dir)
      .collect().map(r => r.getLong(0) -> Seq(r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(con.nonEmpty)
    con.values.foreach(seq =>
      assert(seq.forall(t => !banned.contains(t)), s"banned id generated: $seq"))
    val free = graft.SparkEntry.queries("q194_torch_generate")(spark, dir)
      .collect().map(r => r.getLong(0) -> Seq(r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    // the bans must actually bind somewhere (q194 generates 1/4 often)
    assert(free.exists { case (id, s) => s != con(id) },
      "bans never bound — weak fixture")
    // and where the unconstrained trajectory avoided the banned ids
    // entirely, the constrained one is identical
    val untouched = free.filter(_._2.forall(t => !banned.contains(t)))
    assert(untouched.nonEmpty)
    // NOTE: prefix-identity only holds until the first banned pick, so
    // compare only fully-clean trajectories
    untouched.foreach { case (id, s) =>
      assert(con(id) == s, s"doc $id: clean trajectory changed under bans")
    }
  }

  test("speculative decoding coheres with the target's greedy trajectory (q194)") {
    val dir = "/root/testdata/sf0.001"
    val spec = graft.SparkEntry.queries("q199_torch_spec_decode")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    val greedy = graft.SparkEntry.queries("q194_torch_generate")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    assert(spec.keySet == greedy.keySet)
    var (n0, n2) = (0, 0)
    for ((id, (d1, d2, n, next)) <- spec) {
      val (g1, g2, g3) = greedy(id)
      n match {
        // target rejected immediately: its correction IS its greedy token
        case 0 => assert(next == g1, s"doc $id"); n0 += 1
        // d1 accepted means d1 == target greedy step 1; correction = step 2
        case 1 => assert(d1 == g1 && next == g2, s"doc $id")
        // full acceptance: the draft walked the target's greedy path,
        // and the bonus token is the target's third greedy token
        case 2 => assert(d1 == g1 && d2 == g2 && next == g3, s"doc $id"); n2 += 1
        case _ => fail(s"doc $id: n_accepted $n")
      }
    }
    // the int4 draft must be good-but-imperfect on this fixture
    assert(n2 > 0 && n0 > 0, s"degenerate acceptance mix: all=$n2 none=$n0")
  }

  test("append consistency and loud failure past the position table") {
    import spark.implicits._
    val m = graft.SparkEntry.genModel
    val bc = spark.sparkContext.broadcast(m)
    val df = Seq((1L, Seq(1, 5, 2)), (2L, Seq(7, 0))).toDF("doc_id", "tok_ids")
    def gen(k: Int) = Torch.generateGreedy(df, "tok_ids", "gen", bc, steps = k)
      .select("doc_id", "gen")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val g1 = gen(1); val g3 = gen(3)
    assert(g3(1L).take(1) == g1(1L) && g3(2L).take(1) == g1(2L),
      "k=1 must be k=3's prefix")
    // determinism across partitionings
    val g3b = Torch.generateGreedy(df.repartition(8), "tok_ids", "gen", bc, steps = 3)
      .select("doc_id", "gen")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(g3b == g3)
    // position-table overflow: maxLen is EncMaxLen + 4 = 16; a 15-token
    // prompt + 3 steps would read position 17 -> loud failure
    val long = Seq((9L, (0 until 15).map(i => i % 8))).toDF("doc_id", "tok_ids")
    val e = intercept[Exception] {
      Torch.generateGreedy(long, "tok_ids", "gen", bc, steps = 3).collect()
    }
    assert(e.getMessage != null)
  }

  /** The sf0.001 prompt set q194/q203 run on (doc_id, capped token ids). */
  private def fixturePrompts(vocab: Int) = {
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        slice(transform(
          call_function("regexp_extract_all", col("text"), lit(graft.Tok.Pattern), lit(0)),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % vocab),
          1, 12).as("tok_ids"))
      .filter(size(col("tok_ids")) >= 1)
  }

  test("KV-cache decode: per-step logits BIT-IDENTICAL to the full recompute on every doc") {
    val m = graft.SparkEntry.genModel
    assert(m.cacheable, "genModel must be incrementally decodable")
    val toks = fixturePrompts(m.seqHead.get.vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt).toArray)
    assert(toks.nonEmpty)
    for ((id, prompt) <- toks) {
      val sess = m.decodeSession(prompt)
      var cur = prompt
      for (t <- 1 to 3) {
        val cached = sess.logits()
        val full = m.forwardTokens(cur)
        assert(cached.toSeq == full.toSeq,
          s"doc $id step $t: cached ${cached.toSeq} != recompute ${full.toSeq}")
        // advance along the greedy trajectory (first max wins)
        var tid = 0
        for (j <- 1 until cached.length) if (cached(j) > cached(tid)) tid = j
        sess.append(tid)
        cur = cur :+ tid
      }
    }
    // non-cacheable shapes refuse the session (mean pool: a grown
    // sequence changes every pooled logit — caching would be wrong)
    assert(!graft.SparkEntry.encModel.cacheable)
    intercept[IllegalArgumentException] {
      graft.SparkEntry.encModel.decodeSession(Array(1, 2, 3))
    }
  }

  test("KV-cache decode through a TWO-BLOCK decoder: per-op caches stay independent") {
    // layer 2 consumes layer 1's causal output at the same position —
    // append-only composes, so a stacked decoder sessions too; pin it
    // bit-exactly (the caches are keyed per op index)
    val base = graft.SparkEntry.genModel
    val blk = base.ops.slice(2, 6) // attn + LN + FFN + LN
    val m = new TorchScriptModel(
      (base.ops.take(2) ++ blk ++ blk ++ base.ops.drop(6)).toIndexedSeq)
    assert(m.cacheable)
    val toks = fixturePrompts(base.ops.head.asInstanceOf[EmbeddingSeqOp].vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt).toArray)
      .take(100)
    for ((id, prompt) <- toks) {
      val sess = m.decodeSession(prompt)
      var cur = prompt
      for (t <- 1 to 3) {
        val cached = sess.logits()
        val full = m.forwardTokens(cur)
        assert(cached.toSeq == full.toSeq, s"doc $id step $t (2-block)")
        var tid = 0
        for (j <- 1 until cached.length) if (cached(j) > cached(tid)) tid = j
        sess.append(tid)
        cur = cur :+ tid
      }
    }
  }

  test("KV-cache decode with RoPE: the rotated-k cache is bit-identical to recompute") {
    // Llama-shape check: rotations depend only on the absolute
    // position, so caching the ROTATED k is sound — pin it bit-exactly
    // against the full-prefix recompute on a last-pooled variant of
    // the q169 RoPE model
    val base = graft.SparkEntry.ropeModel
    val at = base.ops.collectFirst { case a: SelfAttentionOp => a }.get
    val m = new TorchScriptModel(IndexedSeq(
      base.ops.head, at, SeqLastPoolOp, base.ops.last))
    assert(m.cacheable, "causal RoPE + last pool must be cacheable")
    val vocab = base.ops.head.asInstanceOf[EmbeddingSeqOp].vocab
    val cap = at.ropeLen - 3 // leave room for 3 generated tokens
    val toks = fixturePrompts(vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt).take(cap).toArray)
    assert(toks.nonEmpty)
    for ((id, prompt) <- toks) {
      val sess = m.decodeSession(prompt)
      var cur = prompt
      for (t <- 1 to 3) {
        val cached = sess.logits()
        val full = m.forwardTokens(cur)
        assert(cached.toSeq == full.toSeq,
          s"doc $id step $t: cached ${cached.toSeq} != recompute ${full.toSeq}")
        var tid = 0
        for (j <- 1 until cached.length) if (cached(j) > cached(tid)) tid = j
        sess.append(tid)
        cur = cur :+ tid
      }
    }
    // past-the-table append still fails loudly from the session
    val sess = m.decodeSession(Array.tabulate(at.ropeLen)(i => i % vocab))
    val err = intercept[Exception] { sess.append(1); sess.logits() }
    assert(err.getMessage.contains("RoPE tables"), err.getMessage)
  }

  test("KV-cache decode with CAUSAL-BANDED bias (ALiBi + causal window): bit-identical, gapped, mixed") {
    val m = graft.SparkEntry.alibiLmModel
    assert(m.cacheable,
      "causal-banded bias heads (Llama/Mistral serving shapes) must session")
    // soundness boundaries: the q166 ALiBi mask IS causal-banded (its
    // mean pool still blocks the session); the q173 SYMMETRIC window
    // attends FORWARD — appending a token would change earlier
    // outputs, so it must NOT read as banded
    assert(graft.SparkEntry.alibiModel.ops.collectFirst {
      case a: SelfAttentionOp => a }.get.biasCausalBanded)
    assert(!graft.SparkEntry.alibiModel.cacheable)
    assert(!graft.SparkEntry.localAttnModel.ops.collectFirst {
      case a: SelfAttentionOp => a }.get.biasCausalBanded,
      "a symmetric window is NOT causal — caching it would be wrong")
    val toks = fixturePrompts(m.seqHead.get.vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt).toArray)
    assert(toks.nonEmpty)
    var minGap = Double.MaxValue
    val seen = scala.collection.mutable.Set.empty[Int]
    for ((id, prompt) <- toks) {
      val sess = m.decodeSession(prompt)
      var cur = prompt
      for (t <- 1 to 3) {
        val cached = sess.logits()
        val full = m.forwardTokens(cur)
        assert(cached.toSeq == full.toSeq,
          s"doc $id step $t: cached ${cached.toSeq} != recompute ${full.toSeq}")
        var tid = 0
        for (j <- 1 until cached.length) if (cached(j) > cached(tid)) tid = j
        val runnerUp = cached.zipWithIndex.filter(_._2 != tid).map(_._1).max
        minGap = math.min(minGap, cached(tid).toDouble - runnerUp.toDouble)
        seen += tid
        sess.append(tid)
        cur = cur :+ tid
      }
    }
    info(s"q215 sf0.001: ${seen.size} distinct tokens, min argmax gap $minGap")
    assert(seen.size >= 3, s"degenerate decode: only $seen generated")
    // the argmax gap floor the f64 oracle's drift must clear (exp/sum
    // ulps + one f32 rounding per op ~ 1e-6)
    assert(minGap > 1e-4, s"argmax gap $minGap too thin for the oracle gate")
  }

  test("repetition penalty + no-repeat-bigram: rules hold, defaults reduce, margins pinned") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val df = fixturePrompts(vocab)
    def run(pen: Double, n: Int) =
      Torch.generateGreedy(df, "tok_ids", "gen", bc, steps = 3,
          repetitionPenalty = pen, noRepeatNgram = n)
        .select("doc_id", "gen")
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val greedy = run(1.0, 0)
    val knobbed = run(1.25, 2)
    assert(knobbed.count { case (k, v) => greedy(k) != v } > 0,
      "the knobs never changed a pick — vacuous at this fixture")
    // independent restatement: client-side decode with the documented
    // rules must reproduce the engine's trajectories, and the margins
    // behind every DISCRETE decision get a floor — the adjusted-argmax
    // gap and the |logit| of every penalized (sign-decided) candidate
    val prompts = fixturePrompts(vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt).toArray)
    var minGap = Double.MaxValue
    var minSeenAbs = Double.MaxValue
    for ((id, prompt) <- prompts) {
      var full = prompt.toVector
      for (_ <- 1 to 3) {
        val lg = m.forwardTokens(full.toArray)
        val last = full.last
        val ngBanned = (0 until full.length - 1)
          .collect { case i if full(i) == last => full(i + 1) }.toSet
        val useNg = (0 until vocab).exists(j => !ngBanned(j))
        val seen = full.toSet
        val adj = (0 until vocab).map { j =>
          val x = lg(j).toDouble
          if (seen(j)) { if (x > 0.0) x / 1.25 else x * 1.25 } else x
        }
        for (j <- 0 until vocab if seen(j))
          minSeenAbs = math.min(minSeenAbs, math.abs(lg(j).toDouble))
        val allowed = (0 until vocab).filter(j => !(useNg && ngBanned(j)))
        val pick = allowed.minBy(j => (-adj(j), j))
        if (allowed.size > 1) {
          val ru = allowed.filter(_ != pick).map(adj).max
          minGap = math.min(minGap, adj(pick) - ru)
        }
        full = full :+ pick
      }
      assert(full.drop(prompt.length) == knobbed(id),
        s"doc $id: engine ${knobbed(id)} != restated ${full.drop(prompt.length)}")
    }
    info(s"q213 sf0.001: min adjusted gap $minGap, min |seen logit| $minSeenAbs")
    assert(minGap > 1e-4, s"adjusted-argmax gap $minGap too thin")
    assert(minSeenAbs > 1e-4,
      s"a penalized logit sits $minSeenAbs from the sign boundary")
  }

  test("banned phrases: no phrase ever decodes, bans bite, single-token == static ban") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val df = fixturePrompts(vocab)
    val phrases = Seq(Seq(4, 4), Seq(0, 4), Seq(1, 1, 1))
    def run(bp: Seq[Seq[Int]], banned: Set[Int] = Set.empty) =
      Torch.generateGreedy(df, "tok_ids", "gen", bc, steps = 3,
          banned = banned, bannedPhrases = bp)
        .select("doc_id", "gen")
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val plain = run(Nil)
    val gated = run(phrases)
    assert(gated.count { case (k, v) => plain(k) != v } > 0,
      "the phrase bans never changed a pick — vacuous fixture")
    // the HARD invariant: no banned phrase occurs anywhere in
    // (prompt ++ generated) that was not already in the prompt —
    // i.e. no occurrence ENDS at a generated position
    val prompts = fixturePrompts(vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt).toVector).toMap
    for ((id, g) <- gated) {
      val full = prompts(id) ++ g
      for (ph <- phrases; end <- prompts(id).length until full.length)
        assert(end + 1 < ph.length ||
          full.slice(end + 1 - ph.length, end + 1) != ph,
          s"doc $id decoded banned phrase $ph at $end: $full")
    }
    // a single-token phrase is exactly the static ban
    assert(run(Seq(Seq(1), Seq(4))) == run(Nil, banned = Set(1, 4)),
      "single-token phrases must equal the static banned set")
  }

  test("round-15 knob wave: eos stop, min-p, sampled norepeat, DFA grammar — rules hold") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val df = fixturePrompts(vocab)
    def collectGen(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "gen")
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap

    // q217 EOS: greedy-with-eos == plain greedy truncated at the
    // first eos inclusive (the trajectory is unchanged up to the stop)
    val plain = collectGen(Torch.generateGreedy(df, "tok_ids", "gen", bc, steps = 3))
    val eosed = collectGen(Torch.generateGreedy(df, "tok_ids", "gen", bc,
      steps = 3, eosId = 1))
    for ((id, g) <- plain) {
      val cut = g.indexOf(1)
      val expect = if (cut < 0) g else g.take(cut + 1)
      assert(eosed(id) == expect, s"doc $id: eos ${eosed(id)} != $expect")
    }
    assert(eosed.values.exists(_.length < 3), "eos never stopped a row")

    // q218 min-p: minP = 0 reduces bit-exactly; minP = 0.25 bites
    def sample(minP: Double) = collectGen(Torch.generateSampled(df,
      "doc_id", "tok_ids", "gen", bc, steps = 2, temperature = 0.5,
      topP = 1.0, minP = minP))
    assert(sample(0.0) == collectGen(Torch.generateSampled(df, "doc_id",
      "tok_ids", "gen", bc, steps = 2, temperature = 0.5, topP = 1.0)),
      "minP = 0 must reduce bit-exactly")
    assert(sample(0.25).exists { case (k, v) => sample(0.0)(k) != v },
      "minP = 0.25 never changed a pick — vacuous")

    // q216 sampled norepeat: defaults reduce; the controls bite; no
    // emitted token completes a seen bigram unless the ban lifted
    def sampled(pen: Double, n: Int) = collectGen(Torch.generateSampled(df,
      "doc_id", "tok_ids", "gen", bc, steps = 2, temperature = 0.5,
      topP = 0.9, repetitionPenalty = pen, noRepeatNgram = n))
    assert(sampled(1.0, 0) == collectGen(Torch.generateSampled(df, "doc_id",
      "tok_ids", "gen", bc, steps = 2, temperature = 0.5, topP = 0.9)),
      "sampled defaults must reduce bit-exactly")
    val knobbed = sampled(1.25, 2)
    assert(knobbed.count { case (k, v) => sampled(1.0, 0)(k) != v } > 0,
      "the sampled controls never changed a pick")
    val prompts = fixturePrompts(vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt).toVector).toMap
    for ((id, g) <- knobbed) {
      var full = prompts(id)
      for (tok <- g) {
        val last = full.last
        val ng = (0 until full.length - 1)
          .collect { case i if full(i) == last => full(i + 1) }.toSet
        val lifted = (0 until vocab).forall(ng)
        assert(lifted || !ng(tok),
          s"doc $id emitted $tok completing a seen bigram (banned $ng)")
        full = full :+ tok
      }
    }

    // q219 DFA: every output satisfies the grammar (state walk), and
    // the constraint bites vs plain greedy
    val dfa = graft.SparkEntry.decodeDfaTrans
    val gram = collectGen(Torch.generateGreedy(df, "tok_ids", "gen", bc,
      steps = 3, dfaTrans = dfa))
    for ((id, g) <- gram) {
      var st = 0
      for (tok <- g) {
        assert(dfa(st)(tok) != -1, s"doc $id emitted forbidden $tok in state $st")
        st = dfa(st)(tok)
      }
    }
    assert(gram.count { case (k, v) => plain(k) != v } > 0,
      "the grammar never constrained a pick — vacuous DFA")

    // q216 sign margins: along the EMITTED trajectories, every seen
    // token's raw logit clears the sign boundary the penalty decision
    // reads (teacher-forced session replay — no sampler needed)
    var minSeenAbs = Double.MaxValue
    for ((id, g) <- knobbed) {
      val sess = m.decodeSession(prompts(id).toArray)
      var full = prompts(id)
      for (tok <- g) {
        val lg = sess.logits()
        for (j <- 0 until vocab if full.contains(j))
          minSeenAbs = math.min(minSeenAbs, math.abs(lg(j).toDouble))
        sess.append(tok)
        full = full :+ tok
      }
    }
    info(s"q216 sf0.001 min |seen logit| along emitted trajectories: $minSeenAbs")
    assert(minSeenAbs > 1e-4, s"a penalized logit sits $minSeenAbs from zero")
  }

  test("q234 typical sampling: neutral reduces bit-exactly; the rule holds on every emitted token") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val df = fixturePrompts(vocab)
    def collectGen(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "gen")
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    def sample(tp: Double) = collectGen(Torch.generateSampled(df,
      "doc_id", "tok_ids", "gen", bc, steps = 2, temperature = 0.5,
      topP = 1.0, typicalP = tp))
    // typicalP >= 1 is OFF — bit-exact reduction to the plain path
    assert(sample(1.0) == collectGen(Torch.generateSampled(df, "doc_id",
      "tok_ids", "gen", bc, steps = 2, temperature = 0.5, topP = 1.0)),
      "typicalP = 1 must reduce bit-exactly")
    val typical = sample(0.8)
    assert(typical.exists { case (k, v) => sample(1.0)(k) != v },
      "typicalP = 0.8 never changed a pick — vacuous")
    // the rule, restated independently: teacher-forced session replay;
    // at every step the emitted token must be in the deviation-ordered
    // keep-set whose mass first reaches 0.8
    def q6(x: Double): Double =
      BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    val prompts = fixturePrompts(vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt).toVector).toMap
    var minBoundaryGap = Double.MaxValue
    for ((id, g) <- typical) {
      val sess = m.decodeSession(prompts(id).toArray)
      for (tok <- g) {
        val lg = sess.logits()
        val lp = (0 until vocab).map(j => lg(j).toDouble / 0.5)
        val mx = lp.max
        val es = lp.map(v => math.exp(v - mx))
        val z = es.sum
        val p6 = es.map(e => q6(e / z))
        var h = 0.0
        for (p <- p6 if p > 0.0) h -= p * StrictMath.log(p)
        val dev = (0 until vocab).map(j =>
          if (p6(j) == 0.0) Double.PositiveInfinity
          else q6(math.abs(-StrictMath.log(p6(j)) - h)))
        val devOrder = (0 until vocab).filter(p6(_) > 0.0)
          .sortBy(j => (dev(j), j))
        val keep = scala.collection.mutable.Set.empty[Int]
        var cum = 0.0
        for (j <- devOrder if cum < 0.8) {
          keep += j
          // the keep boundary must not hinge on last-ulp luck: pin
          // the distance of each running mass from the 0.8 cut
          minBoundaryGap = math.min(minBoundaryGap, math.abs(cum - 0.8))
          cum += p6(j)
        }
        assert(keep(tok), s"doc $id emitted atypical token $tok (keep $keep)")
        sess.append(tok)
      }
    }
    info(s"q234 sf0.001 min |kept-mass - 0.8| at the boundary: $minBoundaryGap")
    assert(minBoundaryGap > 1e-4,
      s"a typical keep decision sits $minBoundaryGap from the mass cut")
    // typical-p composes with mass only — the rank/floor knobs refuse
    intercept[IllegalArgumentException] {
      Torch.generateSampled(df, "doc_id", "tok_ids", "gen", bc, steps = 1,
        temperature = 0.5, topP = 1.0, typicalP = 0.8, topK = 3)
    }
  }

  test("q235 forced + begin-suppress: forcing wins, suppression is first-step-only, k/v feeds on") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val df = fixturePrompts(vocab)
    def collectGen(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "gen")
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val plain = collectGen(Torch.generateGreedy(df, "tok_ids", "gen", bc, steps = 3))
    val forced = collectGen(Torch.generateGreedy(df, "tok_ids", "gen", bc,
      steps = 3, forcedTokens = Map(1 -> 5), beginSuppress = Set(1, 2)))
    val prompts = fixturePrompts(vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt).toVector).toMap
    assert(forced.values.forall(_(1) == 5), "step 1 must emit the forced token")
    assert(forced.values.forall(g => g(0) != 1 && g(0) != 2),
      "a begin-suppressed token decoded at step 0")
    // suppression must BITE somewhere (a plain step-0 pick was 1 or 2)
    assert(plain.values.exists(g => g(0) == 1 || g(0) == 2),
      "begin-suppress never constrained a pick — vacuous fixture")
    // step 0 equals plain greedy restricted to the allowed set; step 2
    // equals a fresh session greedy over prompt ++ [g0, 5] — the
    // forced token's k/v entered the state like a decoded one
    for ((id, g) <- forced) {
      val sess = m.decodeSession((prompts(id) ++ Vector(g(0), 5)).toArray)
      val lg = sess.logits()
      val best = (0 until vocab).filterNot(j => lg(j).isNaN)
        .maxBy(j => (lg(j), -j))
      assert(g(2) == best, s"doc $id step 2 ${g(2)} != recompute $best")
    }
    // suppression applies at the FIRST step only: where plain's later
    // trajectory revisits {1,2} it must stay reachable SOMEWHERE
    assert(forced.values.exists(g => g(2) == 1 || g(2) == 2) ||
      plain.values.forall(g => g(2) != 1 && g(2) != 2),
      "tokens 1/2 vanished from later steps — suppression leaked past step 0")
    // forcing overrides even a static ban on the same token
    val over = collectGen(Torch.generateGreedy(df, "tok_ids", "gen", bc,
      steps = 1, banned = Set(5), forcedTokens = Map(0 -> 5)))
    assert(over.values.forall(_ == Seq(5)), "forcing must override the ban")
  }

  test("q251/q252 watermark gamma: (1,2) reduces bit-exactly; 1/4 bites; flag == z > 2") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val df = fixturePrompts(vocab)
    def collectGen(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "gen")
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // gamma = (1, 2): % 2 < 1 ⟺ % 2 == 0 — the generator must be
    // bit-identical to the pre-gamma path
    val half = collectGen(Torch.generateGreedy(df, "tok_ids", "gen", bc,
      steps = 3, watermarkDelta = 2.0))
    val halfExplicit = collectGen(Torch.generateGreedy(df, "tok_ids", "gen", bc,
      steps = 3, watermarkDelta = 2.0, watermarkGamma = (1, 2)))
    assert(half == halfExplicit, "gamma=(1,2) must reduce bit-exactly")
    // gamma = 1/4 must change some trajectory (a half-green token
    // that is quarter-red loses its bias)
    val quarter = collectGen(Torch.generateGreedy(df, "tok_ids", "gen", bc,
      steps = 3, watermarkDelta = 2.0, watermarkGamma = (1, 4)))
    assert(half.exists { case (id, g) => quarter(id) != g },
      "gamma=1/4 never diverged from gamma=1/2 — vacuous")
    // detector: (1,2) bit-exact to the pre-gamma detector; at (1,4)
    // the greens count drops (smaller green set is a subset — each
    // %4<1 pair is also %2<1... NOT true: 32-bit residues mod 4 in
    // {0} vs mod 2 in {0,2} — {0,1,2,3}→mod4<1 = {0} ⊂ {0,2} = mod2
    // even; so quarter-greens <= half-greens per doc, strictly less
    // somewhere) and the integer flag must equal the z > 2 rule
    import org.apache.spark.sql.functions.col
    val toks = df.select(col("doc_id"), col("tok_ids"))
    def det(g: (Int, Int)) = graft.operators.Watermark
      .greenFractionZ(toks, "doc_id", col("tok_ids"), gamma = g)
      .select("doc_id", "t_pairs", "greens", "z6", "wm_flag")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    val dHalfDefault = graft.operators.Watermark
      .greenFractionZ(toks, "doc_id", col("tok_ids"))
      .select("doc_id", "t_pairs", "greens", "z6", "wm_flag")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    val dHalf = det((1, 2))
    val dQuarter = det((1, 4))
    assert(dHalf == dHalfDefault, "detector gamma=(1,2) must reduce bit-exactly")
    assert(dHalf.forall { case (id, (_, g, _, _)) => dQuarter(id)._2 <= g },
      "quarter green set is a subset of the half green set")
    assert(dHalf.exists { case (id, (_, g, _, _)) => dQuarter(id)._2 < g },
      "gamma=1/4 green counts never differed — vacuous")
    for ((id, (t, g, z6, flag)) <- dQuarter) {
      val d = 4L * g - t
      val z = d.toDouble / math.sqrt((t * 3L).toDouble)
      assert(math.abs(z6 - BigDecimal(z).setScale(6,
        scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble) == 0.0,
        s"doc $id z6 $z6 != replay")
      assert(flag == (z > 2.0 && d > 0),
        s"doc $id integer flag $flag disagrees with z = $z")
    }
  }

  test("q239/q240 watermark: delta=0 reduces bit-exactly; bias is green-only; detection separates") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val df = fixturePrompts(vocab)
    def collectGen(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "gen")
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val plain = collectGen(Torch.generateGreedy(df, "tok_ids", "gen", bc, steps = 3))
    val zeroD = collectGen(Torch.generateGreedy(df, "tok_ids", "gen", bc,
      steps = 3, watermarkDelta = 0.0))
    assert(zeroD == plain, "watermarkDelta = 0 must reduce bit-exactly")
    val wm = collectGen(Torch.generateGreedy(df, "tok_ids", "gen", bc,
      steps = 3, watermarkDelta = 2.0))
    assert(wm.exists { case (k, v) => plain(k) != v },
      "delta = 2 never changed a pick — vacuous watermark")
    // rule restated per emitted token: session replay, the pick must
    // be the adjusted argmax, and the adjusted-gap floors (q213's
    // discipline — no pick may hinge on last-ulp luck)
    def green(prev: Int, j: Int): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$prev:$j".getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map(b => f"$b%02x").mkString, 16) % 2 == 0
    }
    val prompts = fixturePrompts(vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt).toVector).toMap
    var minGap = Double.MaxValue
    for ((id, g) <- wm) {
      val sess = m.decodeSession(prompts(id).toArray)
      var full = prompts(id)
      for (tok <- g) {
        val lg = sess.logits()
        val adj = (0 until vocab).map(j =>
          lg(j).toDouble + (if (green(full.last, j)) 2.0 else 0.0))
        val best = (0 until vocab).maxBy(j => (adj(j), -j))
        assert(tok == best, s"doc $id watermarked pick $tok != restated $best")
        val sorted = adj.sorted(Ordering[Double].reverse)
        minGap = math.min(minGap, sorted(0) - sorted(1))
        sess.append(tok)
        full = full :+ tok
      }
    }
    info(s"q239 sf0.001 min adjusted argmax gap: $minGap")
    assert(minGap > 1e-4, s"a watermarked pick sits $minGap from a tie")
    // detection: the generated region's green-transition count under
    // the watermark dominates plain greedy's in aggregate
    def greens(id: Long, g: scala.collection.Seq[Int]): Int = {
      val seq = prompts(id).last +: g
      seq.sliding(2).count(p => green(p(0), p(1)))
    }
    val gWm = wm.map { case (id, g) => greens(id, g) }.sum
    val gPl = plain.map { case (id, g) => greens(id, g) }.sum
    info(s"q239 green transitions: watermarked $gWm vs plain $gPl " +
      s"of ${3 * wm.size}")
    assert(gWm > gPl, "watermark did not raise the green fraction")
    // q243: the same watermark under nucleus sampling — delta = 0
    // reduces bit-exactly, delta = 2 raises green transitions there too
    def sampleWm(d0: Double) = collectGen(Torch.generateSampled(df,
      "doc_id", "tok_ids", "gen", bc, steps = 3, temperature = 0.5,
      topP = 0.9, watermarkDelta = d0))
    assert(sampleWm(0.0) == collectGen(Torch.generateSampled(df, "doc_id",
      "tok_ids", "gen", bc, steps = 3, temperature = 0.5, topP = 0.9)),
      "sampled watermarkDelta = 0 must reduce bit-exactly")
    val sWm = sampleWm(2.0)
    val gSw = sWm.map { case (id, g) => greens(id, g) }.sum
    val gS0 = sampleWm(0.0).map { case (id, g) => greens(id, g) }.sum
    info(s"q243 sampled green transitions: watermarked $gSw vs plain $gS0")
    assert(gSw > gS0, "sampled watermark did not raise the green fraction")

    // the operator's z agrees with a brute recount on full sequences
    import spark.implicits._
    val full = wm.toSeq.map { case (id, g) =>
      (id, (prompts(id) ++ g).map(_.toLong)) }.toDF("doc_id", "tok_ids")
    val det = graft.operators.Watermark.greenFractionZ(full, "doc_id",
        org.apache.spark.sql.functions.col("tok_ids"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    for ((id, g) <- wm) {
      val seq = prompts(id) ++ g
      val exp = seq.sliding(2).count(p => green(p(0), p(1)))
      assert(det(id) == ((seq.length - 1).toLong, exp.toLong),
        s"doc $id detector counts ${det(id)} != brute (${seq.length - 1}, $exp)")
    }
  }

  test("q241 contrastive search: alpha=0 is the greedy pick; penalty bites; rule + gap floor") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val df = fixturePrompts(vocab)
    def collectGen(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "gen")
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val greedy = collectGen(Torch.generateGreedy(df, "tok_ids", "gen", bc, steps = 2))
    // alpha = 0 scores by quantized probability alone — same pick as
    // the raw-logit argmax (softmax is monotone; the pinned argmax gap
    // floor keeps 6dp rounding from manufacturing ties)
    val a0 = collectGen(Torch.generateContrastive(df, "tok_ids", "gen", bc,
      steps = 2, topK = 3, alpha = 0.0))
    assert(a0 == greedy, "alpha = 0 must reproduce the greedy trajectory")
    val con = collectGen(Torch.generateContrastive(df, "tok_ids", "gen", bc,
      steps = 2, topK = 3, alpha = 0.5))
    assert(con.exists { case (k, v) => greedy(k) != v },
      "the degeneration penalty never changed a pick — vacuous")
    // rule restated per doc: token-at-a-time session replay
    def q6(x: Double): Double =
      BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos6(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.indices.map(j => a(j).toDouble * b(j).toDouble).sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      q6(dot / (na * nb))
    }
    val prompts = fixturePrompts(vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt).toVector).toMap
    var minScoreGap = Double.MaxValue
    for ((id, g) <- con) {
      var sess = m.decodeSession(Array(prompts(id).head))
      val hiddens = scala.collection.mutable.ArrayBuffer(sess.hidden())
      prompts(id).drop(1).foreach { tok => sess.append(tok); hiddens += sess.hidden() }
      for (tok <- g) {
        val lg = sess.logits()
        val mx = (0 until vocab).map(j => lg(j).toDouble).max
        val z = (0 until vocab).map(j => math.exp(lg(j).toDouble - mx)).sum
        val p6 = (0 until vocab).map(j => q6(math.exp(lg(j).toDouble - mx) / z))
        val cands = (0 until vocab).sortBy(j => (-p6(j), j)).take(3)
        val scored = cands.map { v =>
          val child = sess.fork(); child.append(v)
          val hv = child.hidden()
          val pen = hiddens.map(h => cos6(hv, h)).max
          (0.5 * p6(v) - 0.5 * pen, v, child, hv)
        }.sortBy { case (s0, v, _, _) => (-s0, v) }
        assert(scored.head._2 == tok,
          s"doc $id contrastive pick $tok != restated ${scored.head._2}")
        minScoreGap = math.min(minScoreGap, scored(0)._1 - scored(1)._1)
        sess = scored.head._3
        hiddens += scored.head._4
      }
    }
    info(s"q241 sf0.001 min contrastive score gap (top1 - top2): $minScoreGap")
    assert(minScoreGap > 1e-4,
      s"a contrastive pick sits $minScoreGap from flipping")
  }

  test("q242 shared-prefix decode: bit-identical to greedy over prefix ++ suffix") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    import org.apache.spark.sql.functions._
    // 5 distinct 3-token prefixes over the fixture prompts (doc_id % 5
    // keyed), suffixes capped so prefix + suffix + steps fits the
    // position table
    val df = fixturePrompts(vocab).select(col("doc_id"),
      transform(sequence(lit(0), lit(2)),
        i => pmod(col("doc_id") % 5 * 7 + i * 3, lit(vocab.toLong))).as("pfx_ids"),
      slice(col("tok_ids"), 1, 9).as("tok_ids"))
    val shared = Torch.generateGreedySharedPrefix(df, "pfx_ids", "tok_ids",
        "gen", bc, steps = 3)
      .select("doc_id", "gen")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val full = Torch.generateGreedy(
        df.select(col("doc_id"), concat(col("pfx_ids"), col("tok_ids")).as("tok_ids")),
        "tok_ids", "gen", bc, steps = 3)
      .select("doc_id", "gen")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(shared == full,
      "shared-prefix decode diverged from the concatenated-prompt greedy")
    // an EMPTY prefix degrades to the plain per-row session
    val noPfx = Torch.generateGreedySharedPrefix(
        df.select(col("doc_id"), array().cast("array<int>").as("pfx_ids"),
          col("tok_ids")),
        "pfx_ids", "tok_ids", "gen", bc, steps = 3)
      .select("doc_id", "gen")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val plain = Torch.generateGreedy(df, "tok_ids", "gen", bc, steps = 3)
      .select("doc_id", "gen")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(noPfx == plain, "empty prefix must reduce to the plain session")
  }

  test("q244 best-of-n: scorer == session replay; the pick is the min; boundary gaps floor") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    import org.apache.spark.sql.functions._
    val df = fixturePrompts(vocab)
    val gens = Torch.generateSampledK(df, "doc_id", "tok_ids", "gens", bc,
        steps = 2, temperature = 0.5, topP = 0.9, numReturnSequences = 3)
      .select(col("doc_id"), col("tok_ids"),
        posexplode(col("gens")).as(Seq("seq", "cont")))
    val scored = Torch.scoreContinuationBatched(gens, "tok_ids", "cont",
        "nll", bc)
      .select("doc_id", "seq", "cont", "nll")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Int](2).toVector, r.getDouble(3)))
    // the scorer must equal an independent teacher-forced replay
    val prompts = fixturePrompts(vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt).toVector).toMap
    for ((id, _, cont, nll) <- scored.take(300)) {
      val sess = m.decodeSession(prompts(id).toArray)
      var sum = 0.0
      cont.foreach { tok =>
        val lg = sess.logits()
        val mx = (0 until vocab).map(j => lg(j).toDouble).max
        val z = (0 until vocab).map(j => math.exp(lg(j).toDouble - mx)).sum
        sum += lg(tok).toDouble - (math.log(z) + mx)
        sess.append(tok)
      }
      assert(math.abs(nll - (-sum / cont.length)) < 1e-12,
        s"doc $id scorer $nll != replay ${-sum / cont.length}")
    }
    // the q244 pick: per doc, min (round 6dp, seq tiebreak); best-of-3
    // can only improve on the first draw, and the winner's quantized
    // margins over DIFFERENT continuations floor away from ties
    def q6(x: Double): Double =
      BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    val byDoc = scored.groupBy(_._1)
    var minGap = Double.MaxValue
    var improved = 0
    for ((id, rows) <- byDoc) {
      val ranked = rows.sortBy(r => (q6(r._4), r._2))
      val win = ranked.head
      val seq0 = rows.find(_._2 == 0).get
      assert(q6(win._4) <= q6(seq0._4), s"doc $id winner worse than draw 0")
      if (q6(win._4) < q6(seq0._4)) improved += 1
      for (r <- ranked.tail if r._3 != win._3)
        minGap = math.min(minGap, q6(r._4) - q6(win._4))
    }
    info(s"q244 sf0.001: best-of-3 improved ${improved}/${byDoc.size} docs; " +
      s"min distinct-continuation gap $minGap")
    assert(improved > 0, "best-of-3 never improved on the first draw — vacuous")
    assert(minGap > 1e-4 || minGap == Double.MaxValue,
      s"a best-of-n pick sits $minGap from flipping")
  }

  test("q245 self-consistency: the emitted answer is the exact majority of the k draws") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val df = fixturePrompts(vocab)
    val draws = Torch.generateSampledK(df, "doc_id", "tok_ids", "gens", bc,
        steps = 1, temperature = 0.8, topP = 0.9, numReturnSequences = 5)
      .select("doc_id", "gens")
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[scala.collection.Seq[Int]](1).map(_.head)).toMap
    val out = graft.SparkEntry
      .queries("q245_torch_self_consistency")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    // fixturePrompts IS the sf0.001 tokenization, so the draws align
    assert(out.keySet == draws.keySet)
    var split = 0
    for ((id, answers) <- draws) {
      val counts = answers.groupBy(identity).view.mapValues(_.size).toMap
      val best = counts.toSeq.minBy { case (tid, c) => (-c, tid) }
      assert(out(id) == ((best._1, best._2.toLong)),
        s"doc $id majority ${out(id)} != recount $best")
      if (best._2 < 5) split += 1
    }
    info(s"q245 sf0.001: ${split}/${draws.size} docs with a split vote")
    assert(split > 0, "every doc voted unanimously — vacuous fixture")
  }

  test("q247 stochastic speculative sampling: rule replays; identity draft always accepts") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bcT = spark.sparkContext.broadcast(m)
    val bcD = spark.sparkContext.broadcast(graft.torch.TorchQuant.quantize(m, 7))
    val df = fixturePrompts(vocab)
    val out = Torch.speculativeSampled(df, "doc_id", "tok_ids", bcT, bcD)
      .select("doc_id", "draft_tok", "accepted", "final_tok")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getBoolean(2), r.getInt(3)))).toMap
    val nAcc = out.values.count(_._2)
    info(s"q247 sf0.001 acceptance: $nAcc/${out.size}")
    assert(nAcc > 0 && nAcc < out.size,
      "degenerate acceptance — the int8 draft always/never agrees")
    // accepted rows keep the draft token; rejected rows must differ
    // from nothing in particular but must come from the residual —
    // replay the whole rule per doc
    def q6(x: Double): Double =
      BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    def draw(id: Long, salt: String): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:spec:$salt".getBytes("UTF-8"))
      (java.lang.Long.parseLong(
        md.take(4).map(b => f"$b%02x").mkString, 16) % 1000000L) / 1e6
    }
    def probs6(mm: graft.torch.TorchScriptModel, p: Array[Int]): IndexedSeq[Double] = {
      val lg = mm.decodeSession(p).logits()
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
    val prompts = fixturePrompts(vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt).toArray).toMap
    val dm = graft.torch.TorchQuant.quantize(m, 7)
    for ((id, (dx, acc, fx)) <- out) {
      val qp = probs6(dm, prompts(id))
      val pp = probs6(m, prompts(id))
      val expDx = pick(qp, draw(id, "d1"))
      assert(dx == expDx, s"doc $id draft pick $dx != replay $expDx")
      val expAcc = draw(id, "a1") < q6(math.min(1.0, pp(dx) / qp(dx)))
      assert(acc == expAcc, s"doc $id acceptance $acc != replay $expAcc")
      val expFx =
        if (expAcc) dx
        else {
          val resid = (0 until vocab).map(j => math.max(0.0, pp(j) - qp(j)))
          if (resid.forall(_ == 0.0)) dx else pick(resid, draw(id, "r1"))
        }
      assert(fx == expFx, s"doc $id final $fx != replay $expFx")
    }
    // the paper's sanity case: with the target as its own draft the
    // ratio is exactly 1 and EVERY row accepts its draft token
    val self = Torch.speculativeSampled(df, "doc_id", "tok_ids", bcT, bcT)
      .select("doc_id", "draft_tok", "accepted", "final_tok").collect()
    assert(self.forall(r => r.getBoolean(2) && r.getInt(1) == r.getInt(3)),
      "identity draft must always accept")
  }

  test("q249 gamma speculative sampling: gamma=1 replays q247; identity accepts all; arms live") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bcT = spark.sparkContext.broadcast(m)
    val bcD = spark.sparkContext.broadcast(graft.torch.TorchQuant.quantize(m, 7))
    val df = fixturePrompts(vocab)
    // gamma = 1 uses the SAME salts (d1/a1/r1), so the first draft,
    // the acceptance and the rejection correction replay q247's
    // exact draws — bit-exact on the shared semantics; the only
    // addition is the all-accepted bonus token
    val g1 = Torch.speculativeSampledGamma(df, "doc_id", "tok_ids", bcT, bcD,
        gamma = 1)
      .select("doc_id", "draft_toks", "n_accepted", "out_toks")
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Int](1), r.getInt(2), r.getSeq[Int](3)))).toMap
    val q247 = Torch.speculativeSampled(df, "doc_id", "tok_ids", bcT, bcD)
      .select("doc_id", "draft_tok", "accepted", "final_tok")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getBoolean(2), r.getInt(3)))).toMap
    assert(g1.keySet == q247.keySet)
    for ((id, (dts, n, out)) <- g1) {
      val (dx, acc, fx) = q247(id)
      assert(dts == Seq(dx), s"doc $id gamma=1 draft $dts != q247 $dx")
      assert((n == 1) == acc, s"doc $id gamma=1 n_accepted=$n vs q247 $acc")
      assert(out.length == n + 1, s"doc $id out length ${out.length} != n+1")
      if (acc) assert(out.head == dx, s"doc $id accepted but out ${out.head} != $dx")
      else assert(out == Seq(fx), s"doc $id rejected: out $out != q247 correction $fx")
    }
    // identity draft at gamma = 3: ratio quantizes to exactly 1 at
    // every position, so every row accepts all three drafts and emits
    // the bonus — out = drafts :+ bonus, length 4
    val self = Torch.speculativeSampledGamma(df, "doc_id", "tok_ids", bcT, bcT,
        gamma = 3)
      .select("doc_id", "draft_toks", "n_accepted", "out_toks").collect()
    assert(self.forall(r => r.getInt(2) == 3 &&
      r.getSeq[Int](3).length == 4 &&
      r.getSeq[Int](3).take(3) == r.getSeq[Int](1)),
      "identity draft must accept every drafted position")
    // the int8 draft at gamma = 2 must exercise accept AND reject arms
    val g2 = Torch.speculativeSampledGamma(df, "doc_id", "tok_ids", bcT, bcD,
        gamma = 2)
      .select("doc_id", "n_accepted").collect().map(_.getInt(1))
    info(s"q249 sf0.001 n_accepted histogram: " +
      (0 to 2).map(k => s"$k:${g2.count(_ == k)}").mkString(" "))
    assert(g2.exists(_ < 2) && g2.exists(_ == 2),
      "degenerate gamma=2 acceptance mix on the fixture")
  }

  test("q257 shallow fusion: lambda=0 is plain greedy bit-exact; the prior bites; gap floor") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val df = fixturePrompts(vocab)
    // counts from the fixture's own adjacent pairs (the q257 recipe)
    val prompts = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt).toArray).toMap
    val counts = Array.fill(vocab)(Array.fill(vocab)(0L))
    for (p <- prompts.values; i <- 0 until p.length - 1)
      counts(p(i))(p(i + 1)) += 1L
    val rowSums = counts.map(_.sum)
    def collectGen(lam: Double) =
      Torch.generateGreedy(df, "tok_ids", "gen", bc, steps = 3,
          lmWeight = lam, lmCounts = counts)
        .select("doc_id", "gen")
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val plain = Torch.generateGreedy(df, "tok_ids", "gen", bc, steps = 3)
      .select("doc_id", "gen")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(collectGen(0.0) == plain, "lambda=0 must reduce bit-exactly")
    val fused = collectGen(0.5)
    assert(fused.exists { case (id, g) => plain(id) != g },
      "the corpus prior never moved a trajectory — vacuous")
    // rule restated per doc + the runner-up gap floor: the fused
    // adjusted logits' min winner-vs-runner-up gap must sit orders
    // above cross-libm ln / f32-forward drift (~1e-12)
    var minGap = Double.MaxValue
    for ((id, g) <- fused) {
      val sess = m.decodeSession(prompts(id))
      var prev = prompts(id).last
      for (tok <- g) {
        val lg = sess.logits()
        val adj = (0 until vocab).map { j =>
          lg(j).toDouble + 0.5 * StrictMath.log(
            (counts(prev)(j) + 1L).toDouble / (rowSums(prev) + vocab.toLong).toDouble)
        }
        val order = (0 until vocab).sortBy(j => (-adj(j), j))
        assert(order.head == tok,
          s"doc $id fused pick $tok != replay ${order.head}")
        minGap = math.min(minGap, adj(order(0)) - adj(order(1)))
        sess.append(tok)
        prev = tok
      }
    }
    info(f"q257 sf0.001 min fused runner-up gap: $minGap%.3e")
    assert(minGap > 1e-9,
      s"a fused pick sits $minGap from its runner-up — cross-engine flip risk")
  }

  test("q256 self-speculative: early exit shares weights, is cacheable, and drafts worse than int8") {
    val m = graft.SparkEntry.genModel
    val ee = graft.SparkEntry.earlyExitModel
    val vocab = m.seqHead.get.vocab
    // the draft IS a shallow exit of the target: same embedding
    // table, same positional table, same lm head — zero extra weights
    assert(ee.cacheable, "early-exit draft must be KV-cacheable")
    assert(ee.ops.forall(m.ops.contains),
      "every early-exit op must be one of the target's own ops (shared weights)")
    assert(ee.seqHead.get.vocab == vocab)
    val bcT = spark.sparkContext.broadcast(m)
    val bcE = spark.sparkContext.broadcast(ee)
    val bcQ = spark.sparkContext.broadcast(graft.torch.TorchQuant.quantize(m, 7))
    val df = fixturePrompts(vocab)
    def acc(d: org.apache.spark.broadcast.Broadcast[graft.torch.TorchScriptModel]) =
      Torch.speculativeSampledGamma(df, "doc_id", "tok_ids", bcT, d, gamma = 2)
        .select("n_accepted").collect().map(_.getInt(0))
    val eeAcc = acc(bcE)
    val qAcc = acc(bcQ)
    info(s"q256 sf0.001 acceptance mean: early-exit " +
      f"${eeAcc.sum.toDouble / eeAcc.length}%.2f vs int8 ${qAcc.sum.toDouble / qAcc.length}%.2f")
    // all three arms live under the weak draft, and the weak draft is
    // measurably weaker (the speculative tradeoff is real, not noise)
    assert((0 to 2).forall(k => eeAcc.contains(k)),
      "an acceptance arm never fired under the early-exit draft")
    assert(eeAcc.sum < qAcc.sum,
      "the attention-free draft should accept strictly less than the int8 draft")
  }

  test("q254 serving loop: cycle 1 IS q249; rollback prefixes verified; identity cycles exactly") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bcT = spark.sparkContext.broadcast(m)
    val bcD = spark.sparkContext.broadcast(graft.torch.TorchQuant.quantize(m, 7))
    val df = fixturePrompts(vocab)
    val loop = Torch.speculativeSampledLoop(df, "doc_id", "tok_ids", bcT, bcD,
        gamma = 2, maxNewTokens = 2)
      .select("doc_id", "out_toks", "n_cycles", "n_acc_total")
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Int](1), r.getInt(2), r.getInt(3)))).toMap
    val g2 = Torch.speculativeSampledGamma(df, "doc_id", "tok_ids", bcT, bcD,
        gamma = 2)
      .select("doc_id", "n_accepted", "out_toks")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getSeq[Int](2)))).toMap
    var twoCycle = 0
    for ((id, (out, cyc, acc)) <- loop) {
      val (n1, cout) = g2(id)
      assert(out.length == 2, s"doc $id emitted ${out.length} != maxNewTokens")
      // the loop's first cycle replays q249's draws exactly
      assert(out.head == cout.head,
        s"doc $id loop f1 ${out.head} != q249 cycle ${cout.head}")
      if (n1 >= 1) {
        assert(cyc == 1 && out == cout.take(2),
          s"doc $id should finish in one cycle as q249's prefix: $out vs $cout")
        assert(acc == n1, s"doc $id acc_total $acc != q249 n_accepted $n1")
      } else {
        twoCycle += 1
        assert(cyc == 2, s"doc $id n_acc=0 must take a second cycle")
      }
    }
    info(s"q254 sf0.001 two-cycle docs: $twoCycle / ${loop.size}")
    assert(twoCycle > 0 && twoCycle < loop.size, "a cycle arm never fired")
    // identity draft: every position accepts, so each cycle emits
    // gamma + 1 tokens and the loop takes ceil(maxNew / (gamma+1))
    // cycles — maxNew = 5, gamma = 2 → exactly 2 cycles, 4 accepted.
    // Prompts truncate to 8 tokens so the deepest verify fork
    // (8 + 3 emitted + 2 drafts = 13) stays inside the 16-position
    // embedding table.
    val dfShort = df.select(org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.slice(
        org.apache.spark.sql.functions.col("tok_ids"), 1, 8).as("tok_ids"))
    val selfLoop = Torch.speculativeSampledLoop(dfShort, "doc_id", "tok_ids",
        bcT, bcT, gamma = 2, maxNewTokens = 5)
      .select("doc_id", "out_toks", "n_cycles", "n_acc_total").collect()
    assert(selfLoop.forall(r => r.getSeq[Int](1).length == 5 &&
      r.getInt(2) == 2 && r.getInt(3) == 4),
      "identity draft must accept every position across cycles")
    // rollback correctness: for a two-cycle doc, the second cycle's
    // first draft must equal a FRESH gamma run over prompt ++ f1 —
    // the session roll-forward is bit-equal to recompute. Use the
    // dedicated salt offset: cycle-2 draws use d3/a3/r3, which a
    // fresh q249 run over the grown prompt would not (it restarts at
    // d1) — so instead restate the cycle-2 pick by hand per doc.
    val prompts = fixturePrompts(vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt).toArray).toMap
    def q6(x: Double): Double =
      BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    def draw(id: Long, salt: String): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:spec:$salt".getBytes("UTF-8"))
      (java.lang.Long.parseLong(
        md.take(4).map(b => f"$b%02x").mkString, 16) % 1000000L) / 1e6
    }
    def probs6(mm: graft.torch.TorchScriptModel, p: Array[Int]): IndexedSeq[Double] = {
      val lg = mm.decodeSession(p).logits()
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
    val dm = graft.torch.TorchQuant.quantize(m, 7)
    for ((id, (out, cyc, _)) <- loop if cyc == 2) {
      val grown = prompts(id) :+ out.head
      val qp = probs6(dm, grown)
      val x3 = pick(qp, draw(id, "d3"))
      val pp = probs6(m, grown)
      val ok = draw(id, "a3") < q6(math.min(1.0, pp(x3) / qp(x3)))
      val exp =
        if (ok) x3
        else {
          val resid = (0 until vocab).map(j => math.max(0.0, pp(j) - qp(j)))
          if (resid.forall(_ == 0.0)) x3 else pick(resid, draw(id, "r3"))
        }
      assert(out(1) == exp,
        s"doc $id cycle-2 emission ${out(1)} != fresh-prefix replay $exp — rollback broken")
    }
  }

  test("q248 contrastive decoding: alpha=1 is greedy; the amateur bites; rule + gap floor") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bcE = spark.sparkContext.broadcast(m)
    val dm = graft.torch.TorchQuant.quantize(m, 7)
    val bcA = spark.sparkContext.broadcast(dm)
    val df = fixturePrompts(vocab)
    def collectGen(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "gen")
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val greedy = collectGen(Torch.generateGreedy(df, "tok_ids", "gen", bcE, steps = 2))
    // alpha = 1: the head is exactly the expert's argmax set — the
    // contrast has nothing to arbitrate, greedy trajectory recovered
    val a1 = collectGen(Torch.generateContrastiveDecoding(df, "tok_ids", "gen",
      bcE, bcA, steps = 2, plausibilityAlpha = 1.0))
    assert(a1 == greedy, "alpha = 1 must reproduce the greedy trajectory")
    val cd = collectGen(Torch.generateContrastiveDecoding(df, "tok_ids", "gen",
      bcE, bcA, steps = 2, plausibilityAlpha = 0.125))
    assert(cd.exists { case (k, v) => greedy(k) != v },
      "the amateur contrast never changed a pick — vacuous")
    // rule replay per doc with a score-gap floor
    def q6(x: Double): Double =
      BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    def dists(lg: Array[Float]): (IndexedSeq[Double], IndexedSeq[Double], IndexedSeq[Double]) = {
      val mx = (0 until vocab).map(j => lg(j).toDouble).max
      val z = (0 until vocab).map(j => math.exp(lg(j).toDouble - mx)).sum
      val lse = math.log(z) + mx
      val raw = (0 until vocab).map(j => lg(j).toDouble - lse)
      ((0 until vocab).map(j => q6(math.exp(lg(j).toDouble - mx) / z)),
        raw.map(q6), raw)
    }
    val prompts = fixturePrompts(vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt).toArray).toMap
    // the score lives ON the 1e-6 grid (a difference of two 6dp
    // values), so 1e-6 gaps between head candidates are routine and
    // deterministically tie-broken — the cross-engine protection is
    // the UNQUANTIZED log-softmax values sitting away from their own
    // 6dp rounding boundaries (the q203 boundary-distance discipline)
    def boundaryDist(v: Double): Double = {
      // distance of the scaled value's fractional part from the .5
      // rounding boundary, in 1e-6 grid units
      val s = v * 1e6
      math.abs((s - math.floor(s)) - 0.5)
    }
    var minBoundary = Double.MaxValue
    for ((id, g) <- cd) {
      val se = m.decodeSession(prompts(id))
      val sa = dm.decodeSession(prompts(id))
      for (tok <- g) {
        val (pe, le, rawE) = dists(se.logits())
        val (_, la, rawA) = dists(sa.logits())
        val floor = 0.125 * pe.max
        val head = (0 until vocab).filter(pe(_) >= floor)
        val ranked = head.map(j => (le(j) - la(j), j))
          .sortBy { case (s0, j) => (-s0, j) }
        assert(ranked.head._2 == tok,
          s"doc $id contrastive-decoding pick $tok != replay ${ranked.head._2}")
        for (j <- head) {
          minBoundary = math.min(minBoundary, boundaryDist(rawE(j)))
          minBoundary = math.min(minBoundary, boundaryDist(rawA(j)))
        }
        se.append(tok); sa.append(tok)
      }
    }
    info(s"q248 sf0.001 min 6dp-boundary distance of head log-probs " +
      s"(1e-6 units): $minBoundary")
    // measured 2.2e-4 grid-fractions (= 2.2e-10 absolute) — the same
    // scale as q203's pinned 2.9e-5; the engines agree to ~1e-12, so
    // anything above 1e-5 grid-fractions is orders clear of a flip
    assert(minBoundary > 1e-5,
      s"a head log-prob sits $minBoundary grid-fractions from its rounding boundary")
  }

  test("q260 watermarked beams: delta=0 reduces bit-exactly; bias steers; rule restated") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val df = fixturePrompts(vocab)
    def collectBeams(delta: Double, steps: Int = 2) =
      Torch.beamSearch(df, "tok_ids", "beams", bc, steps = steps, width = 2,
          watermarkDelta = delta)
        .select("doc_id", "beams")
        .collect().map(r => r.getLong(0) ->
          r.getSeq[scala.collection.Seq[Int]](1).map(_.toSeq)).toMap
    val plain = collectBeams(0.0)
    val plainDirect = Torch.beamSearch(df, "tok_ids", "beams", bc,
        steps = 2, width = 2)
      .select("doc_id", "beams")
      .collect().map(r => r.getLong(0) ->
        r.getSeq[scala.collection.Seq[Int]](1).map(_.toSeq)).toMap
    assert(plain == plainDirect, "delta=0 must reduce bit-exactly")
    val marked = collectBeams(2.0)
    assert(marked.exists { case (id, bs) => plain(id) != bs },
      "the green bias never moved a beam — vacuous")
    // rule restated on a ONE-step run: step-1 beams = top-2 of the
    // log-softmax over logits biased by green(prompt last, j)
    val w1 = collectBeams(2.0, steps = 1)
    val prompts = fixturePrompts(vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt).toArray).toMap
    def green(prev: Int, j: Int): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$prev:$j".getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.take(4).map(b => f"$b%02x").mkString, 16) % 2 == 0
    }
    for ((id, bs) <- w1) {
      val lg = m.decodeSession(prompts(id)).logits()
      val prev = prompts(id).last
      // the log-softmax is monotone in the biased logits, so the
      // beam order equals the adjusted-logit order
      val adj = (0 until vocab).map(j =>
        lg(j).toDouble + (if (green(prev, j)) 2.0 else 0.0))
      val expect = (0 until vocab).sortBy(j => (-adj(j), j)).take(2)
      assert(bs.map(_.head) == expect,
        s"doc $id watermarked step-1 beams ${bs.map(_.head)} != $expect")
    }
  }

  test("q253 contrastive beams: width=1 == greedy CD bit-exact; reranking bites; 1-beam docs are 1-token heads") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bcE = spark.sparkContext.broadcast(m)
    val dm = graft.torch.TorchQuant.quantize(m, 7)
    val bcA = spark.sparkContext.broadcast(dm)
    val df = fixturePrompts(vocab)
    def collectBeams(width: Int) =
      Torch.beamSearchContrastiveDecoding(df, "tok_ids", "beams", bcE, bcA,
          steps = 2, width = width, plausibilityAlpha = 0.125)
        .select("doc_id", "beams")
        .collect().map(r => r.getLong(0) ->
          r.getSeq[scala.collection.Seq[Int]](1).map(_.toSeq)).toMap
    val w1 = collectBeams(1)
    val greedy = Torch.generateContrastiveDecoding(df, "tok_ids", "gen",
        bcE, bcA, steps = 2, plausibilityAlpha = 0.125)
      .select("doc_id", "gen")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    for ((id, bs) <- w1)
      assert(bs == Seq(greedy(id)),
        s"doc $id width=1 beam ${bs} != greedy CD ${greedy(id)}")
    // width = 2: the joint-score rerank must move some doc's top beam
    // away from the greedy trajectory (otherwise beams are vacuous)
    val w2 = collectBeams(2)
    assert(w2.exists { case (id, bs) => bs.head != greedy(id) },
      "beam rerank never changed the top hypothesis — vacuous")
    // a doc keeping ONE beam must have a single-token step-1 head —
    // restate the head per doc
    val prompts = fixturePrompts(vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt).toArray).toMap
    def q6(x: Double): Double =
      BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    var oneBeam = 0
    for ((id, bs) <- w2 if bs.length == 1) {
      oneBeam += 1
      val lg = m.decodeSession(prompts(id)).logits()
      val mx = (0 until vocab).map(j => lg(j).toDouble).max
      val z = (0 until vocab).map(j => math.exp(lg(j).toDouble - mx)).sum
      val pe = (0 until vocab).map(j => q6(math.exp(lg(j).toDouble - mx) / z))
      val head = (0 until vocab).filter(pe(_) >= 0.125 * pe.max)
      assert(head.size == 1,
        s"doc $id kept 1 beam but its step-1 head is $head")
    }
    info(s"q253 sf0.001 single-beam docs: $oneBeam / ${w2.size}")
  }

  test("q236 diverse beams: group 0 == plain beam search; penalty diversifies; rule restated") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val df = fixturePrompts(vocab)
    def collectBeams(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "beams")
        .collect().map(r => r.getLong(0) ->
          r.getSeq[scala.collection.Seq[Int]](1).map(_.toSeq)).toMap
    val plain = collectBeams(Torch.beamSearch(df, "tok_ids", "beams", bc,
      steps = 2, width = 2))
    val div = collectBeams(Torch.beamSearchDiverse(df, "tok_ids", "beams", bc,
      steps = 2, width = 2, groups = 2, diversityPenalty = 0.5))
    // group 0 never sees a penalty — bit-identical to plain beams
    for ((id, bs) <- div)
      assert(bs.take(2) == plain(id),
        s"doc $id group 0 ${bs.take(2)} != plain ${plain(id)}")
    // zero penalty makes every group the plain frontier
    val zero = collectBeams(Torch.beamSearchDiverse(df, "tok_ids", "beams", bc,
      steps = 2, width = 2, groups = 2, diversityPenalty = 0.0))
    for ((id, bs) <- zero) {
      assert(bs.take(2) == plain(id) && bs.drop(2) == plain(id),
        s"doc $id lambda=0 groups differ from plain")
    }
    // the penalty must actually diversify somewhere
    assert(div.exists { case (_, bs) => bs.drop(2) != bs.take(2) },
      "diversity penalty never moved group 1 — vacuous")
    // the rule, restated independently per doc on a ONE-step run
    // (step 2 re-ranks the frontier, so only steps=1 exposes the raw
    // step-1 picks in rank order): group 1's picks equal top-2 of
    // (lp - 0.5*countA) under the (adj DESC, tid) order
    val div1 = collectBeams(Torch.beamSearchDiverse(df, "tok_ids", "beams", bc,
      steps = 1, width = 2, groups = 2, diversityPenalty = 0.5))
    val prompts = fixturePrompts(vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt).toVector).toMap
    for ((id, bs) <- div1) {
      val sess = m.decodeSession(prompts(id).toArray)
      val lg = sess.logits()
      val mx = (0 until vocab).map(j => lg(j).toDouble).max
      val z = (0 until vocab).map(j => math.exp(lg(j).toDouble - mx)).sum
      val lse = math.log(z) + mx
      val lp = (0 until vocab).map(j => lg(j).toDouble - lse)
      val aPicks = Seq(bs(0)(0), bs(1)(0))
      val adj = (0 until vocab).map(j =>
        lp(j) - 0.5 * aPicks.count(_ == j))
      val expB = (0 until vocab).sortBy(j => (-adj(j), j)).take(2)
      assert(Seq(bs(2)(0), bs(3)(0)) == expB,
        s"doc $id group-1 step-1 picks ${Seq(bs(2)(0), bs(3)(0))} != $expB")
    }
  }

  test("q250 diverse beams × eos/lennorm: group 0 == beamSearch(knobs); knobs bite; frozen don't count") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val df = fixturePrompts(vocab)
    def collectBeams(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "beams")
        .collect().map(r => r.getLong(0) ->
          r.getSeq[scala.collection.Seq[Int]](1).map(_.toSeq)).toMap
    // group 0 never sees a penalty — bit-identical to plain beamSearch
    // under the SAME eos + length-penalty knobs
    val plain = collectBeams(Torch.beamSearch(df, "tok_ids", "beams", bc,
      steps = 2, width = 2, lengthPenalty = 0.5, eosId = 1))
    val div = collectBeams(Torch.beamSearchDiverse(df, "tok_ids", "beams", bc,
      steps = 2, width = 2, groups = 2, diversityPenalty = 0.5,
      lengthPenalty = 0.5, eosId = 1))
    for ((id, bs) <- div)
      assert(bs.take(2) == plain(id),
        s"doc $id group 0 ${bs.take(2)} != beamSearch(eos,alpha) ${plain(id)}")
    // lambda = 0: every group is that plain frontier
    val zero = collectBeams(Torch.beamSearchDiverse(df, "tok_ids", "beams", bc,
      steps = 2, width = 2, groups = 2, diversityPenalty = 0.0,
      lengthPenalty = 0.5, eosId = 1))
    for ((id, bs) <- zero)
      assert(bs.take(2) == plain(id) && bs.drop(2) == plain(id),
        s"doc $id lambda=0 groups differ from plain-with-knobs")
    // neutral knobs (alpha = 0, no eos): bit-exact to the pre-knob
    // diverse path — the q236 behavior
    val preKnob = collectBeams(Torch.beamSearchDiverse(df, "tok_ids", "beams", bc,
      steps = 2, width = 2, groups = 2, diversityPenalty = 0.5))
    val neutral = collectBeams(Torch.beamSearchDiverse(df, "tok_ids", "beams", bc,
      steps = 2, width = 2, groups = 2, diversityPenalty = 0.5,
      lengthPenalty = 0.0, eosId = -1))
    assert(neutral == preKnob, "neutral knobs must reduce bit-exactly to q236")
    // every knob arm must be live on the fixture: some beam freezes at
    // step 1 (length-1 ending at eos), some completes at step 2, some
    // beam runs both steps live
    val all = div.values.flatten
    assert(all.exists(b => b == Seq(1)), "no beam froze at step 1")
    assert(all.exists(b => b.length == 2 && b.last == 1),
      "no beam completed at step 2")
    assert(all.exists(b => b.length == 2 && b.last != 1),
      "no beam stayed live both steps")
    // frozen keeps select nothing: on a doc where group 0 keeps a
    // frozen beam at step 2, group 1's step-2 penalty counts must
    // reflect only group 0's NEWLY appended tokens. Restate the rule
    // per doc for the step-2 group-1 frontier.
    val prompts = fixturePrompts(vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt).toArray).toMap
    def lps(sess: m.DecodeSession): IndexedSeq[Double] = {
      val lg = sess.logits()
      val mx = (0 until vocab).map(j => lg(j).toDouble).max
      val z = (0 until vocab).map(j => math.exp(lg(j).toDouble - mx)).sum
      val lse = math.log(z) + mx
      (0 until vocab).map(j => lg(j).toDouble - lse)
    }
    var checkedFrozen = 0
    for ((id, bs) <- div if bs.take(2).exists(_ == Seq(1))) {
      // group 0 kept a step-1-frozen beam; replay group 1's STEP-1
      // picks: penalty counts group 0's step-1 selections (incl. its
      // eos pick) — then confirm the engine's group-1 step-1 prefix
      // matches (first tokens of kept group-1 beams derive from them)
      val sess = m.decodeSession(prompts(id))
      val lp = lps(sess)
      val aPicks = bs.take(2).map(_.head)
      val adj = (0 until vocab).map(j => lp(j) - 0.5 * aPicks.count(_ == j))
      // step-1 group-1 frontier (norm = adj at length 1)
      val b1 = (0 until vocab).sortBy(j => (-adj(j), j)).take(2)
      val g1Firsts = bs.drop(2).map(_.head).toSet
      assert(g1Firsts.subsetOf(b1.toSet),
        s"doc $id group-1 first tokens $g1Firsts not from step-1 frontier $b1")
      checkedFrozen += 1
    }
    info(s"q250 sf0.001 docs with a group-0 step-1-frozen beam: $checkedFrozen")
    assert(checkedFrozen > 0, "no doc exercised the frozen-keep arm")
  }

  test("length-normalized beam with EOS: defaults reduce bit-exactly; alpha bites; margins floor") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val df = fixturePrompts(vocab)
    def run(alpha: Double, eos: Int) =
      Torch.beamSearch(df, "tok_ids", "beams", bc, steps = 2, width = 2,
          lengthPenalty = alpha, eosId = eos)
        .select("doc_id", "beams")
        .collect().map(r => r.getLong(0) ->
          r.getSeq[scala.collection.Seq[Int]](1).map(_.toSeq)).toMap
    // defaults = the old raw-joint ranking, bit-exactly (pow(len,0)=1,
    // raw/1.0 == raw — same sort keys, same stable order)
    val plain = Torch.beamSearch(df, "tok_ids", "beams", bc, steps = 2, width = 2)
      .select("doc_id", "beams")
      .collect().map(r => r.getLong(0) ->
        r.getSeq[scala.collection.Seq[Int]](1).map(_.toSeq)).toMap
    assert(run(0.0, -1) == plain, "defaults must reduce bit-exactly")
    // EOS semantics: a completed beam stops at its eos token
    val withEos = run(0.0, 1)
    val finished = withEos.values.flatten.count(b => b == Seq(1))
    assert(finished > 0, "eos never completed a beam — vacuous fixture")
    assert(withEos.values.flatten.forall(b =>
      !b.dropRight(1).contains(1)), "a beam expanded past its eos")
    // the length penalty changes which hypothesis wins somewhere
    val normed = run(0.5, 1)
    val moved = normed.count { case (k, v) => withEos(k) != v }
    info(s"q214 sf0.001: $finished completed beams; alpha moved $moved docs")
    assert(moved > 0, "alpha = 0.5 never changed a ranking — vacuous")
    // margin floors on the DISCRETE keeps: per doc, the gap between
    // the kept frontier and the first dropped candidate at both steps
    // (engine-score restatement via sessions — the argmax-gap recipe)
    val toks = fixturePrompts(vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt).toArray)
    def logProbs(lg: Array[Float]): Array[Double] = {
      val mx = lg.map(_.toDouble).max
      val z = lg.map(v => math.exp(v.toDouble - mx)).sum
      val lse = math.log(z) + mx
      lg.map(_.toDouble - lse)
    }
    var minCut = Double.MaxValue
    for ((_, prompt) <- toks) {
      val sess = m.decodeSession(prompt)
      val lp1 = logProbs(sess.logits())
      val order1 = (0 until vocab).sortBy(j => (-lp1(j), j))
      minCut = math.min(minCut, lp1(order1(1)) - lp1(order1(2)))
      val beams1 = order1.take(2).map(t => (t, lp1(t)))
      val cands = scala.collection.mutable.ArrayBuffer.empty[Double]
      for (((t1, s1), bi) <- beams1.zipWithIndex) {
        if (t1 == 1) cands += s1 // completed: norm = s/1
        else {
          val child = sess.fork(); child.append(t1)
          val lp2 = logProbs(child.logits())
          for (t2 <- 0 until vocab)
            cands += (s1 + lp2(t2)) / StrictMath.pow(2.0, 0.5)
        }
      }
      val sorted = cands.sorted(Ordering[Double].reverse)
      minCut = math.min(minCut, sorted(1) - sorted(2))
    }
    info(s"q214 sf0.001 min frontier-cut margin: $minCut")
    assert(minCut > 1e-4, s"frontier margin $minCut too thin for the oracle")
  }

  test("top-k sampling: topK >= vocab reduces bit-exactly to top-p; topK = 1 is the top-1 pick") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val df = fixturePrompts(vocab)
    def run(topK: Int, topP: Double = 0.9) =
      Torch.generateSampled(df, "doc_id", "tok_ids", "gen", bc,
          steps = 3, temperature = 0.5, topP = topP, topK = topK)
        .select("doc_id", "gen")
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // topK >= vocab: the rank filter never trips — the kept set, the
    // f64 running sums, and every pick are IDENTICAL to the pure
    // top-p path (the q203 configuration)
    assert(run(topK = vocab) == run(topK = Int.MaxValue),
      "topK = vocab must reduce bit-exactly to the q203 sampler")
    // topK = 1 keeps exactly the head of the (p6 DESC, tid ASC)
    // order — the same single candidate topP -> 0 keeps
    assert(run(topK = 1) == run(topK = Int.MaxValue, topP = 1e-6),
      "topK = 1 must equal the topP -> 0 top-1 pick")
    // the real cutoff (topK = 3 of 8) must actually bite: some docs
    // leave the pure-top-p trajectory
    val moved = run(topK = 3).count { case (k, v) => run(topK = vocab)(k) != v }
    assert(moved > 0, "topK = 3 never changed a pick — the cutoff is vacuous")
  }

  test("sampled decoding: topP -> 0 keeps only the top-1 nucleus and reduces to greedy") {
    val m = graft.SparkEntry.genModel
    val bc = spark.sparkContext.broadcast(m)
    val df = fixturePrompts(m.seqHead.get.vocab)
    val greedy = Torch.generateGreedy(df, "tok_ids", "gen", bc, steps = 3)
      .select("doc_id", "gen")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val reduced = Torch.generateSampled(df, "doc_id", "tok_ids", "gen", bc,
        steps = 3, temperature = 0.5, topP = 1e-6)
      .select("doc_id", "gen")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(reduced == greedy, "topP -> 0 must equal greedy decoding")
    // and the REAL nucleus (topP 0.9) must actually sample: some docs
    // leave the greedy trajectory
    val sampled = Torch.generateSampled(df, "doc_id", "tok_ids", "gen", bc,
        steps = 3, temperature = 0.5, topP = 0.9)
      .select("doc_id", "gen")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val moved = sampled.count { case (k, v) => greedy(k) != v }
    assert(moved > sampled.size / 10,
      s"only $moved/${sampled.size} docs left the greedy trajectory")
    // determinism across partitionings (the draws are seeded, not ambient)
    val again = Torch.generateSampled(df.repartition(8), "doc_id", "tok_ids",
        "gen", bc, steps = 3, temperature = 0.5, topP = 0.9)
      .select("doc_id", "gen")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(again == sampled)
  }

  test("sampled decoding: every quantized decision sits far from its rounding boundary") {
    // The cross-engine contract rounds e/z and cumsum/total to 6 dp
    // before comparing; the only residual risk is a value within
    // cross-libm exp drift (~1e-16 relative) of a 0.5e-6 rounding
    // boundary. Measure the minimum distance of x*1e6 from the nearest
    // half-integer over EVERY probability and cumulative the sf0.001
    // run quantizes — the floor must clear ulp scale by orders of
    // magnitude.
    val m = graft.SparkEntry.genModel
    val vocab = m.outDim
    val toks = fixturePrompts(m.seqHead.get.vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt).toArray)
    def q6(x: Double): Double =
      BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    def boundaryDist(x: Double): Double = {
      val f = (x * 1e6) % 1.0
      math.abs(f - 0.5)
    }
    var minDist = Double.MaxValue
    for ((id, prompt) <- toks) {
      var cur = prompt
      for (t <- 1 to 2) {
        val out = m.forwardTokens(cur)
        val lp = Array.tabulate(vocab)(j => out(j).toDouble / 0.5)
        val mx = lp.max
        val es = lp.map(v => math.exp(v - mx))
        val z = es.sum
        es.foreach(e => minDist = math.min(minDist, boundaryDist(e / z)))
        val p6 = es.map(e => q6(e / z))
        val order = (0 until vocab).sortBy(j => (-p6(j), j))
        val kept = scala.collection.mutable.ArrayBuffer.empty[Int]
        var cum = 0.0
        for (j <- order if cum < 0.9) { kept += j; cum += p6(j) }
        var run = 0.0
        val sums = kept.map { j => run += p6(j); run }
        val total = run
        sums.foreach(cs => minDist = math.min(minDist, boundaryDist(cs / total)))
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$id:$t".getBytes("UTF-8"))
        val hex = md.take(4).map(b => f"$b%02x").mkString
        val u = (java.lang.Long.parseLong(hex, 16) % 1000000L) / 1e6
        var pick = kept.last
        var done = false
        for ((j, cs) <- kept.zip(sums) if !done)
          if (q6(cs / total) > u) { pick = j; done = true }
        cur = cur :+ pick
      }
    }
    info(s"min quantization-boundary distance (x1e-6): $minDist")
    assert(minDist > 1e-7,
      s"a quantized decision sits $minDist x 1e-6 from its rounding boundary")
  }

  test("constrained beam search: never-kept bans reduce exactly; knobs bite; recompute agrees") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val df = fixturePrompts(vocab)
    def collectBeams(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "beams").collect()
        .map(r => r.getLong(0) ->
          r.getSeq[scala.collection.Seq[Int]](1).map(_.toSeq)).toMap
    val base = collectBeams(Torch.beamSearch(df, "tok_ids", "beams", bc,
      steps = 2, width = 2, lengthPenalty = 0.5, eosId = 1))
    // 1. reduction: banning a token a doc's frontiers never kept (any
    //    step-1 slot or final beam) cannot change THAT doc's output —
    //    constraints act post-softmax (the full-vocab lse is
    //    untouched), so removing a never-kept candidate moves no pick.
    //    Per doc at most 6 distinct tokens occupy slots, so with vocab
    //    8 every doc is checked by some banned-token run.
    val s1 = collectBeams(Torch.beamSearch(df, "tok_ids", "beams", bc,
      steps = 1, width = 2, lengthPenalty = 0.5, eosId = 1))
    var reductionChecked = 0
    for (t <- 0 until vocab if t != 1) {
      val safeDocs = base.keySet.filter { d =>
        !base(d).exists(_.contains(t)) && !s1(d).exists(_.contains(t))
      }
      if (safeDocs.nonEmpty) {
        val bannedRun = collectBeams(Torch.beamSearch(df, "tok_ids", "beams",
          bc, steps = 2, width = 2, lengthPenalty = 0.5, eosId = 1,
          banned = Set(t)))
        for (d <- safeDocs)
          assert(bannedRun(d) == base(d),
            s"doc $d: banning never-kept token $t changed the beams")
        reductionChecked += safeDocs.size
      }
    }
    assert(reductionChecked >= base.size,
      s"reduction covered only $reductionChecked doc-checks")
    // 2. the full knob set: CTRL penalty + no-repeat-bigram + a banned
    //    phrase + a 2-token eos floor — engine vs an independent
    //    session-level recompute of the DOCUMENTED contract
    val knobbed = collectBeams(Torch.beamSearch(df, "tok_ids", "beams", bc,
      steps = 2, width = 2, lengthPenalty = 0.5, eosId = 1,
      repetitionPenalty = 1.5, noRepeatNgram = 2,
      bannedPhrases = Seq(Seq(4, 4)), minNewTokens = 2))
    assert(knobbed.exists { case (k, v) => base(k) != v },
      "the knob set never changed a ranking - vacuous")
    def logProbs(lg: Array[Float]): Array[Double] = {
      val mx = lg.map(_.toDouble).max
      val z = lg.map(v => math.exp(v.toDouble - mx)).sum
      val lse = math.log(z) + mx
      lg.map(_.toDouble - lse)
    }
    val toks = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt).toArray)
    for ((docId, prompt) <- toks) {
      var beams: Seq[(Vector[Int], Double, m.DecodeSession, Boolean)] =
        Seq((Vector.empty[Int], 0.0, m.decodeSession(prompt), false))
      for (_ <- 0 until 2) {
        val cands = beams.zipWithIndex.flatMap {
          case ((g, s0, sess, true), bi) =>
            Seq((s0 / StrictMath.pow(g.length.toDouble, 0.5),
              bi, -1, s0, (g, s0, sess, true)))
          case ((g, s0, sess, false), bi) =>
            val lp = logProbs(sess.logits())
            val pen = StrictMath.pow((g.length + 1).toDouble, 0.5)
            val full = prompt.toVector ++ g
            val seen = full.toSet
            val ng: Set[Int] =
              (0 until full.length - 1).collect {
                case i if full(i) == full.last => full(i + 1)
              }.toSet
            def hard(j: Int) =
              (j == 4 && full.lastOption.contains(4)) ||
                (j == 1 && g.length < 2)
            val ngLive = (0 until vocab).exists(j => !hard(j) && !ng(j))
            (0 until vocab)
              .filter(j => !hard(j) && !(ngLive && ng(j))).map { tok =>
                val l0 = lp(tok)
                val l =
                  if (seen(tok)) { if (l0 > 0.0) l0 / 1.5 else l0 * 1.5 }
                  else l0
                val raw = s0 + l
                (raw / pen, bi, tok, raw, (g, s0, sess, false))
              }
        }
        beams = cands.sortBy { case (n, bi, tok, _, _) => (-n, bi, tok) }
          .take(2)
          .map {
            case (_, _, -1, _, b) => b
            case (_, _, tok, raw, (g, _, sess, _)) =>
              if (tok == 1) (g :+ tok, raw, sess, true)
              else {
                val child = sess.fork(); child.append(tok)
                (g :+ tok, raw, child, false)
              }
          }
      }
      assert(knobbed(docId) == beams.map(_._1.toSeq),
        s"doc $docId: engine ${knobbed(docId)} != recompute ${beams.map(_._1)}")
      // hard invariants on every kept beam
      for (b <- knobbed(docId)) {
        assert(!b.contains(1), s"doc $docId: eos decoded below the floor")
        // the bad_words contract bans COMPLETING the phrase: no (4,4)
        // window may END at a generated position (the prompt may
        // already contain one — that's history, not decoding)
        val full = prompt.toSeq ++ b
        val genStart = prompt.length
        val violation = (1 until full.length).exists(e =>
          e >= genStart && full(e) == 4 && full(e - 1) == 4)
        assert(!violation, s"doc $docId: banned phrase completed in $b")
      }
    }
  }

  test("min_new_tokens: eos never decodes inside the floor; non-binding docs are untouched") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val df = fixturePrompts(vocab)
    def run(minNew: Int) =
      Torch.generateGreedy(df, "tok_ids", "gen", bc, steps = 4,
          eosId = 1, minNewTokens = minNew)
        .select("doc_id", "gen").collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    val plain = run(0)
    val floored = run(2)
    // floor invariants: eos cannot appear among the first 2 generated
    // tokens, so every row decodes at least 3 (it may stop at step 3)
    for ((d, g) <- floored) {
      assert(!g.take(2).contains(1), s"doc $d: eos inside the floor: $g")
      assert(g.length >= 3, s"doc $d: stopped inside the floor: $g")
    }
    // the knob binds somewhere: a doc that stopped early un-floored
    val bound = plain.filter { case (_, g) => g.take(2).contains(1) }
    assert(bound.nonEmpty, "no doc hit eos inside the floor - vacuous fixture")
    assert(bound.keys.exists(d => floored(d) != plain(d)),
      "the floor never changed a bound doc")
    // docs where the ban never binds (no eos argmax inside the floor)
    // are BIT-IDENTICAL: the guard only removes eos, and eos was not
    // the pick
    for ((d, g) <- plain if !g.take(2).contains(1))
      assert(floored(d) == g, s"doc $d: unbound trajectory moved")
  }

  test("multi-return sampling: k=1 reduces bit-exactly; sequence 0 is k-invariant; extras diverge") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val df = fixturePrompts(vocab)
    val single = Torch.generateSampled(df, "doc_id", "tok_ids", "gen", bc,
        steps = 3, temperature = 0.5, topP = 0.9)
      .select("doc_id", "gen").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    def runK(k: Int) =
      Torch.generateSampledK(df, "doc_id", "tok_ids", "gens", bc,
          steps = 3, temperature = 0.5, topP = 0.9, numReturnSequences = k)
        .select("doc_id", "gens").collect()
        .map(r => r.getLong(0) ->
          r.getSeq[scala.collection.Seq[Int]](1).map(_.toSeq)).toMap
    val k1 = runK(1)
    assert(k1.forall { case (d, g) => g == Seq(single(d)) },
      "k = 1 must reduce bit-exactly to generateSampled")
    val k3 = runK(3)
    // sequence 0 never moves when k grows (the "<id>:<step>" key)
    assert(k3.forall { case (d, g) => g.head == single(d) },
      "sequence 0 moved when k grew")
    // the salted keys produce real diversity somewhere
    assert(k3.exists { case (_, g) => g.distinct.length > 1 },
      "all sequences identical everywhere - vacuous salt")
    // every sequence has exactly `steps` tokens (no early exit path)
    assert(k3.values.flatten.forall(_.length == 3))
  }

  test("q264 fused beams: == f64 recompute; lambda=0 bit-exact; width=1 == generateGreedyFused; margins floor") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val df = fixturePrompts(vocab)
    val toks = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).map(_.toInt).toArray)
    // the frozen bigram prior, recomputed in pure Scala
    val counts = Array.fill(vocab)(Array.fill(vocab)(0L))
    toks.foreach { case (_, ids) =>
      ids.sliding(2).foreach {
        case Array(a, b) => counts(a)(b) += 1L
        case _ =>
      }
    }
    val rowSums = counts.map(_.sum)
    val lam = 0.5
    def fused(prev: Int, tok: Int): Double =
      lam * StrictMath.log((counts(prev)(tok) + 1L).toDouble /
        (rowSums(prev) + vocab.toLong).toDouble)
    def run(w: Int, l: Double) =
      Torch.beamSearch(df, "tok_ids", "beams", bc, steps = 2, width = w,
          lmWeight = l, lmCounts = if (l == 0.0) null else counts)
        .select("doc_id", "beams").collect()
        .map(r => r.getLong(0) ->
          r.getSeq[scala.collection.Seq[Int]](1).map(_.toSeq)).toMap
    val fusedBeams = run(2, lam)
    val plainBeams = Torch.beamSearch(df, "tok_ids", "beams", bc,
        steps = 2, width = 2)
      .select("doc_id", "beams").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[scala.collection.Seq[Int]](1).map(_.toSeq)).toMap
    // lambda = 0 takes the guarded branch: bit-exact plain beams
    assert(run(2, 0.0) == plainBeams,
      "lmWeight = 0 is not bit-exact plain beamSearch")
    // the prior actually steers some hypothesis somewhere
    assert(fusedBeams.exists { case (d, beams) => beams != plainBeams(d) },
      "lambda = 0.5 changed nothing — vacuous fusion")
    // width = 1: the per-step pick maximizes lp + fused = logits −
    // lse + fused — the same argmax fused generateGreedy takes over
    // logits + fused (lse is constant per step)
    val g = Torch.generateGreedy(df, "tok_ids", "gen", bc, steps = 2,
        lmWeight = lam, lmCounts = counts)
      .select("doc_id", "gen").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    val w1 = run(1, lam)
    assert(w1.forall { case (d, beams) => beams == Seq(g(d)) },
      "width-1 fused beams diverged from fused generateGreedy")
    // full f64 recompute of the 2x2 fused expansion + margin floors
    def logProbs(ids: Array[Int]): Array[Double] = {
      val lg = f64Logits(m, ids)
      val mx = lg.max
      val lse = math.log(lg.map(v => math.exp(v - mx)).sum) + mx
      lg.map(_ - lse)
    }
    var minMargin = Double.MaxValue
    for ((docId, ids) <- toks) {
      val lp1 = logProbs(ids)
      val f1 = (0 until vocab).map(t => lp1(t) + fused(ids.last, t))
      val b1 = (0 until vocab).sortBy(t => (-f1(t), t)).take(2)
      minMargin = math.min(minMargin,
        f1(b1(1)) - (0 until vocab).filterNot(b1.contains).map(f1).max)
      val cands = b1.zipWithIndex.flatMap { case (t1, rank) =>
        val lp2 = logProbs(ids :+ t1)
        (0 until vocab).map(t2 =>
          (f1(t1) + lp2(t2) + fused(t1, t2), rank, t1, t2))
      }
      val ranked = cands.sortBy { case (s, r, _, t2) => (-s, r, t2) }
      val kept = ranked.take(2)
      minMargin = math.min(minMargin, kept(1)._1 - ranked(2)._1)
      val exp = Seq(Seq(kept(0)._3, kept(0)._4), Seq(kept(1)._3, kept(1)._4))
      assert(fusedBeams(docId) == exp,
        s"doc $docId: engine ${fusedBeams(docId)} vs f64 $exp")
    }
    info(s"q264 sf0.001: min fused beam margin $minMargin")
    assert(minMargin > 1e-4, s"fused beam margin floor violated: $minMargin")
  }

  test("q271 watermarked fused beams: each knob at zero reduces to the other's path; the composition bites") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val df = fixturePrompts(vocab)
    val counts = Array.fill(vocab)(Array.fill(vocab)(0L))
    df.collect().foreach { r =>
      r.getSeq[Long](1).map(_.toInt).sliding(2).foreach {
        case Seq(a, b) => counts(a)(b) += 1L
        case _ =>
      }
    }
    def run(lam: Double, delta: Double) =
      Torch.beamSearch(df, "tok_ids", "beams", bc, steps = 2, width = 2,
          watermarkDelta = delta, lmWeight = lam,
          lmCounts = if (lam == 0.0) null else counts)
        .select("doc_id", "beams").collect()
        .map(r => r.getLong(0) ->
          r.getSeq[scala.collection.Seq[Int]](1).map(_.toSeq)).toMap
    val both = run(0.5, 2.0)
    // delta = 0 is exactly the q264 fused path; lambda = 0 exactly
    // the q260 watermarked path — the composed call must reproduce
    // each single-knob call bit-for-bit when the other knob zeroes
    // (the guarded branches), which the shared `run` covers by
    // construction; what needs pinning is that the composition is a
    // genuinely new point, not one knob masking the other
    val fusedOnly = run(0.5, 0.0)
    val markedOnly = run(0.0, 2.0)
    assert(both.exists { case (d, b) => b != fusedOnly(d) },
      "the watermark changed nothing under fusion")
    assert(both.exists { case (d, b) => b != markedOnly(d) },
      "the prior changed nothing under the watermark")
    assert(fusedOnly.exists { case (d, b) => b != markedOnly(d) },
      "degenerate fixture: fusion and watermark agree everywhere")
  }

  test("q276 fused diverse beams: group 0 == fused plain beams; lambda=0 reduces; the prior bites under diversity") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val df = fixturePrompts(vocab)
    val counts = Array.fill(vocab)(Array.fill(vocab)(0L))
    df.collect().foreach { r =>
      r.getSeq[Long](1).map(_.toInt).sliding(2).foreach {
        case Seq(a, b) => counts(a)(b) += 1L
        case _ =>
      }
    }
    def runDiverse(lam: Double) =
      Torch.beamSearchDiverse(df, "tok_ids", "beams", bc, steps = 2,
          width = 2, groups = 2, diversityPenalty = 0.5, lmWeight = lam,
          lmCounts = if (lam == 0.0) null else counts)
        .select("doc_id", "beams").collect()
        .map(r => r.getLong(0) ->
          r.getSeq[scala.collection.Seq[Int]](1).map(_.toSeq)).toMap
    val fusedDiv = runDiverse(0.5)
    // group 0 never sees another group's picks, so it must reproduce
    // FUSED plain beamSearch bit-for-bit — the trailing-fused-term
    // association (s0 + lp) + fused is shared by both kernels
    val fusedPlain = Torch.beamSearch(df, "tok_ids", "beams", bc,
        steps = 2, width = 2, lmWeight = 0.5, lmCounts = counts)
      .select("doc_id", "beams").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[scala.collection.Seq[Int]](1).map(_.toSeq)).toMap
    assert(fusedDiv.forall { case (d, beams) =>
      beams.take(2) == fusedPlain(d) },
      "group 0 diverged from fused plain beamSearch")
    // lmWeight = 0 takes the guarded branch: the pre-knob diverse path
    val unfused = Torch.beamSearchDiverse(df, "tok_ids", "beams", bc,
        steps = 2, width = 2, groups = 2, diversityPenalty = 0.5)
      .select("doc_id", "beams").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[scala.collection.Seq[Int]](1).map(_.toSeq)).toMap
    assert(runDiverse(0.0) == unfused,
      "lmWeight = 0 is not bit-exact the pre-knob diverse path")
    assert(fusedDiv.exists { case (d, beams) => beams != unfused(d) },
      "the prior changed nothing under diversity — vacuous fusion")
    // diversity still separates the groups under the prior
    assert(fusedDiv.exists { case (_, beams) =>
      beams.take(2) != beams.drop(2) }, "groups identical under fusion")
  }

  test("q268 fused sampling: lambda=0 bit-exact generateSampled; the prior reshapes the nucleus somewhere") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val df = fixturePrompts(vocab)
    val counts = Array.fill(vocab)(Array.fill(vocab)(0L))
    df.collect().foreach { r =>
      r.getSeq[Long](1).map(_.toInt).sliding(2).foreach {
        case Seq(a, b) => counts(a)(b) += 1L
        case _ =>
      }
    }
    def run(l: Double) =
      Torch.generateSampled(df, "doc_id", "tok_ids", "gen", bc, steps = 2,
          temperature = 0.5, topP = 0.9, lmWeight = l,
          lmCounts = if (l == 0.0) null else counts)
        .select("doc_id", "gen").collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    val plain = Torch.generateSampled(df, "doc_id", "tok_ids", "gen", bc,
        steps = 2, temperature = 0.5, topP = 0.9)
      .select("doc_id", "gen").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(run(0.0) == plain,
      "lmWeight = 0 is not bit-exact generateSampled")
    val fusedRun = run(0.5)
    val moved = fusedRun.count { case (d, g) => g != plain(d) }
    info(s"q268 sf0.001: fusion moved $moved/${fusedRun.size} trajectories")
    assert(moved > 0, "lambda = 0.5 changed nothing — vacuous fusion")
  }

  test("q265 watermarked diverse beams: group 0 == watermarked plain beams; delta=0 reduces; the bias bites") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val df = fixturePrompts(vocab)
    def runDiverse(delta: Double) =
      Torch.beamSearchDiverse(df, "tok_ids", "beams", bc, steps = 2,
          width = 2, groups = 2, diversityPenalty = 0.5,
          watermarkDelta = delta)
        .select("doc_id", "beams").collect()
        .map(r => r.getLong(0) ->
          r.getSeq[scala.collection.Seq[Int]](1).map(_.toSeq)).toMap
    val marked = runDiverse(2.0)
    // group 0 (beams 0-1) is bit-identical to watermarked PLAIN beams
    // at any penalty — groups only see earlier groups' picks
    val plain = Torch.beamSearch(df, "tok_ids", "beams", bc, steps = 2,
        width = 2, watermarkDelta = 2.0)
      .select("doc_id", "beams").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[scala.collection.Seq[Int]](1).map(_.toSeq)).toMap
    assert(marked.forall { case (d, beams) => beams.take(2) == plain(d) },
      "group 0 diverged from watermarked plain beamSearch")
    // delta = 0 takes the guarded branch: bit-exact the pre-knob path
    val unmarked = runDiverse(0.0)
    assert(unmarked == Torch.beamSearchDiverse(df, "tok_ids", "beams", bc,
        steps = 2, width = 2, groups = 2, diversityPenalty = 0.5)
      .select("doc_id", "beams").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[scala.collection.Seq[Int]](1).map(_.toSeq)).toMap,
      "watermarkDelta = 0 is not bit-exact the default path")
    // the bias actually steers some hypothesis somewhere
    assert(marked.exists { case (d, beams) => beams != unmarked(d) },
      "delta = 2 changed nothing — vacuous watermark")
    // and group 1 still diversifies away from group 0 under the bias
    assert(marked.exists { case (_, beams) =>
      beams.take(2) != beams.drop(2) }, "groups identical under bias")
  }
}
