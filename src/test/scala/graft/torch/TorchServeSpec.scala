package graft.torch

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Round-19 serving pins (VERDICT r18 items 2–6 + the ADVICE triple-
 * composition gap): the cross-pair speculative loop (q279), stochastic
 * tree verification (q280), watermark × speculative (q281), bounded-KV
 * decoding (q282), the auto-gamma pick (q283), and the
 * watermark × fusion × diversity triple on beamSearchDiverse.
 */
class TorchServeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fixturePrompts(vocab: Int) = {
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        slice(transform(
          call_function("regexp_extract_all", col("text"), lit(graft.Tok.Pattern), lit(0)),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % vocab),
          1, 12).as("tok_ids"))
      .filter(size(col("tok_ids")) >= 1)
  }

  private def crossPrompts(m: TorchScriptModel) = {
    val dvocab = m.seqHead.get.vocab
    val kvocab = m.encHead.get.vocab
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        call_function("regexp_extract_all", col("text"), lit(graft.Tok.Pattern), lit(0))
          .as("words"))
      .filter(size(col("words")) >= 1)
      .select(col("doc_id"),
        slice(transform(col("words"),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % dvocab),
          1, 2).as("d_ids"),
        slice(transform(col("words"),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % kvocab),
          1, 12).as("s_ids"))
  }

  // the Spec kernel quartet restated (the cross-engine contract the
  // oracles share) — for hand-replaying single decisions
  private def q6(x: Double): Double =
    BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
  private def draw(id: Long, salt: String): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$id:spec:$salt".getBytes("UTF-8"))
    (java.lang.Long.parseLong(
      md.take(4).map(b => f"$b%02x").mkString, 16) % 1000000L) / 1e6
  }
  private def probs6Of(lg: Array[Float]): IndexedSeq[Double] = {
    val vocab = lg.length
    val mx = (0 until vocab).map(j => lg(j).toDouble).max
    val z = (0 until vocab).map(j => math.exp(lg(j).toDouble - mx)).sum
    (0 until vocab).map(j => q6(math.exp(lg(j).toDouble - mx) / z))
  }
  private def pick(mass: IndexedSeq[Double], u: Double): Int = {
    val order = mass.indices.filter(mass(_) > 0.0).sortBy(j => (-mass(j), j))
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
  private def green(prev: Int, j: Int): Boolean = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$prev:$j".getBytes("UTF-8"))
    java.lang.Long.parseLong(md.take(4).map(b => f"$b%02x").mkString, 16) % 2 < 1
  }

  test("q279 pair loop: cycle 1 IS q261; rollback == fresh-prefix replay; cycle arms live") {
    val m = graft.SparkEntry.crossGenModel
    val dm = TorchQuant.quantize(m, 7)
    val bcT = spark.sparkContext.broadcast(m)
    val bcD = spark.sparkContext.broadcast(dm)
    val df = crossPrompts(m)
    val loop = Torch.speculativeSampledLoop(df, "doc_id", "d_ids",
        bcT, bcD, gamma = 2, maxNewTokens = 2, srcCol = "s_ids")
      .select("doc_id", "out_toks", "n_cycles", "n_acc_total").collect()
      .map(r => r.getLong(0) ->
        ((r.getSeq[Int](1), r.getInt(2), r.getInt(3)))).toMap
    val cell = Torch.speculativeSampledGamma(df, "doc_id", "d_ids",
        bcT, bcD, gamma = 2, srcCol = "s_ids")
      .select("doc_id", "n_accepted", "out_toks").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getSeq[Int](2)))).toMap
    assert(loop.nonEmpty && loop.keySet == cell.keySet)
    var twoCycle = 0
    for ((id, (out, cyc, acc)) <- loop) {
      val (n1, cout) = cell(id)
      assert(out.length == 2)
      assert(out.head == cout.head,
        s"doc $id loop f1 ${out.head} != q261 cycle ${cout.head}")
      if (n1 >= 1) {
        assert(cyc == 1 && out == cout.take(2) && acc == n1,
          s"doc $id one-cycle replay broke: $out vs $cout")
      } else { twoCycle += 1; assert(cyc == 2) }
    }
    info(s"q279 sf0.001 two-cycle docs: $twoCycle / ${loop.size}")
    assert(twoCycle > 0 && twoCycle < loop.size, "a cycle arm never fired")
    // rollback: a two-cycle doc's second emission must equal a hand
    // replay at the grown decoder prefix with the cycle-2 salts
    // (d3/a3/r3) through FRESH cross sessions — the roll-forward is
    // bit-equal to recompute, encoder leg and all
    val prompts = df.collect().map(r => (r.getLong(0),
      r.getSeq[Long](1).map(_.toInt).toArray,
      r.getSeq[Long](2).map(_.toInt).toArray))
      .map { case (id, d, s) => id -> ((d, s)) }.toMap
    for ((id, (out, cyc, _)) <- loop if cyc == 2) {
      val (dec, src) = prompts(id)
      val grown = dec :+ out.head
      val qp = probs6Of(dm.decodeSession(grown, src).logits())
      val x3 = pick(qp, draw(id, "d3"))
      val pp = probs6Of(m.decodeSession(grown, src).logits())
      val ok = draw(id, "a3") < q6(math.min(1.0, pp(x3) / qp(x3)))
      val exp =
        if (ok) x3
        else {
          val resid = qp.indices.map(j => math.max(0.0, pp(j) - qp(j)))
          if (resid.forall(_ == 0.0)) x3 else pick(resid, draw(id, "r3"))
        }
      assert(out(1) == exp,
        s"doc $id cycle-2 emission ${out(1)} != fresh-prefix replay $exp")
    }
  }

  test("q280 stochastic tree: branch=1 replays q249; level 1 IS the q269 cell; identity draft full-walks") {
    val tm = graft.SparkEntry.genModel
    val dm = TorchQuant.quantize(tm, 7)
    val bcT = spark.sparkContext.broadcast(tm)
    val bcD = spark.sparkContext.broadcast(dm)
    val toks = fixturePrompts(tm.outDim)
    // branch = 1: level ℓ salts collapse to d<ℓ>/a<ℓ>/r<ℓ> — exactly
    // speculativeSampledGamma's draws at gamma = depth, so emitted
    // tokens and accepted counts coincide BIT-EXACTLY
    val b1 = Torch.treeDraftStochastic(toks, "doc_id", "tok_ids", bcT, bcD,
        branch = 1, depth = 2)
      .select("doc_id", "n_accepted", "out_toks").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getSeq[Int](2)))).toMap
    val g2 = Torch.speculativeSampledGamma(toks, "doc_id", "tok_ids", bcT,
        bcD, gamma = 2)
      .select("doc_id", "n_accepted", "out_toks").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getSeq[Int](2)))).toMap
    assert(b1.nonEmpty && b1 == g2,
      "branch = 1 stochastic tree diverged from speculativeSampledGamma")
    // level 1 at branch = 2 IS the q269 multi-draft cell: same
    // children, same first-position decision
    val b2 = Torch.treeDraftStochastic(toks, "doc_id", "tok_ids", bcT, bcD,
        branch = 2, depth = 2)
      .select("doc_id", "tree", "acc_rounds", "n_accepted", "out_toks")
      .collect()
      .map(r => r.getLong(0) -> ((
        r.getSeq[scala.collection.Seq[Int]](1).map(_.toSeq),
        r.getSeq[Int](2).toSeq, r.getInt(3), r.getSeq[Int](4).toSeq))).toMap
    val q269 = Torch.speculativeSampledMultiDraft(toks, "doc_id", "tok_ids",
        bcT, bcD, numDrafts = 2)
      .select("doc_id", "draft_toks", "acc_round", "final_tok").collect()
      .map(r => r.getLong(0) ->
        ((r.getSeq[Int](1).toSeq, r.getInt(2), r.getInt(3)))).toMap
    for ((id, (tree, rounds, nAcc, out)) <- b2) {
      val (cellDrafts, cellRnd, cellF) = q269(id)
      assert(tree.head == cellDrafts,
        s"doc $id level-1 children ${tree.head} != q269 drafts $cellDrafts")
      assert(rounds.head == cellRnd && out.head == cellF,
        s"doc $id level-1 decision diverged from the q269 cell")
      assert(out.length == nAcc + 1)
      assert(nAcc == rounds.takeWhile(_ > 0).length)
      // the walk stops at the first residual round — nothing below it
      assert(tree.length == rounds.length &&
        rounds.length == math.min(nAcc + 1, 2))
    }
    val hist = b2.values.groupBy(_._3).map { case (k, v) => k -> v.size }
    info(s"q280 sf0.001 n_accepted histogram: $hist")
    assert(Seq(0, 1, 2).forall(hist.getOrElse(_, 0) > 0),
      s"a depth arm never fired: $hist")
    // identity draft: every level's round 1 accepts (ratio quantizes
    // to 1, draws < 1) — full walks everywhere
    val selfB = Torch.treeDraftStochastic(toks, "doc_id", "tok_ids", bcT,
        bcT, branch = 2, depth = 2)
      .select("n_accepted", "acc_rounds").collect()
    assert(selfB.forall(r => r.getInt(0) == 2 &&
      r.getSeq[Int](1).forall(_ == 1)),
      "identity draft did not accept round 1 at every level")
  }

  test("q281 watermark x speculative: delta=0 IS q249; green-rate gain matches the direct path") {
    val tm = graft.SparkEntry.genModel
    val dm = TorchQuant.quantize(tm, 7)
    val bcT = spark.sparkContext.broadcast(tm)
    val bcD = spark.sparkContext.broadcast(dm)
    val toks = fixturePrompts(tm.outDim)
    def runWm(delta: Double) =
      Torch.speculativeSampledGamma(toks, "doc_id", "tok_ids", bcT, bcD,
          gamma = 2, watermarkDelta = delta)
        .select("doc_id", "tok_ids", "draft_toks", "n_accepted", "out_toks")
        .collect()
        .map(r => r.getLong(0) -> ((r.getSeq[Int](1).toIndexedSeq,
          r.getSeq[Int](2), r.getInt(3), r.getSeq[Int](4)))).toMap
    val plain = runWm(0.0)
    val q249 = Torch.speculativeSampledGamma(toks, "doc_id", "tok_ids",
        bcT, bcD, gamma = 2)
      .select("doc_id", "draft_toks", "n_accepted", "out_toks").collect()
      .map(r => r.getLong(0) ->
        ((r.getSeq[Int](1), r.getInt(2), r.getSeq[Int](3)))).toMap
    assert(plain.nonEmpty &&
      plain.map { case (k, (_, d, n, o)) => k -> ((d, n, o)) } == q249,
      "delta = 0 diverged from plain speculativeSampledGamma")
    val wm = runWm(2.0)
    assert(wm.keySet == plain.keySet)
    // the bias must move SOME outcomes (non-vacuous knob) while the
    // drafts (watermark-oblivious) never move
    assert(wm.forall { case (id, (_, d, _, _)) => d == plain(id)._2 },
      "the draft chain moved under a target-side bias")
    assert(wm.exists { case (id, (_, _, _, o)) => o != plain(id)._4 },
      "delta = 2 changed nothing — vacuous watermark")
    // detector view: the first emitted token is green (keyed on the
    // prompt's last token) noticeably more often under the watermark,
    // and the accelerated gain matches the DIRECT watermarked path
    // (one-step sampled decode with the same bias) — both emissions
    // are watermarked-target distributed, so their green rates agree
    // at corpus scale even though their draws differ
    def greenRate(rows: Iterable[(IndexedSeq[Int], Seq[Int])]): Double =
      rows.count { case (p, o) => green(p.last, o.head) }.toDouble / rows.size
    val accelRate = greenRate(wm.values.map { case (p, _, _, o) => (p, o.toSeq) })
    val plainRate = greenRate(plain.values.map { case (p, _, _, o) => (p, o.toSeq) })
    val direct = Torch.generateSampled(toks, "doc_id", "tok_ids", "gen", bcT,
        steps = 1, temperature = 1.0, topP = 1.0, watermarkDelta = 2.0)
      .select("doc_id", "tok_ids", "gen").collect()
    val directRate = direct.count(r => green(
      r.getSeq[Int](1).last, r.getSeq[Int](2).head)).toDouble / direct.length
    info(f"q281 green rates: plain $plainRate%.3f accel $accelRate%.3f direct $directRate%.3f")
    assert(accelRate > plainRate + 0.1,
      "watermark z-gain missing on the accelerated output")
    assert(math.abs(accelRate - directRate) < 0.1,
      "accelerated green rate diverged from the direct watermarked path")
  }

  test("q282 bounded KV: window >= length IS generateGreedy; eviction bites; sink knob matters") {
    val m = graft.SparkEntry.alibiLmModel
    val bc = spark.sparkContext.broadcast(m)
    val toks = fixturePrompts(m.seqHead.get.vocab)
    val plain = Torch.generateGreedy(toks, "tok_ids", "gen", bc, steps = 3)
      .select("doc_id", "gen").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    // nWindow >= final length (12 prompt + 3 generated) never evicts:
    // the score loop walks the same cached rows in the same order
    val wide = Torch.generateGreedy(toks, "tok_ids", "gen", bc,
        steps = 3, nSink = 0, nWindow = 16)
      .select("doc_id", "gen").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(wide.nonEmpty && wide == plain,
      "a never-evicting window diverged from the unbounded session")
    // the serving config (sink 1 + window 4) must actually change
    // rollouts on the fixture — otherwise the gate is vacuous
    val tight = Torch.generateGreedy(toks, "tok_ids", "gen", bc,
        steps = 3, nSink = 1, nWindow = 4)
      .select("doc_id", "gen").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    val moved = tight.count { case (id, g) => g != plain(id) }
    info(s"q282 sf0.001: eviction moved $moved / ${tight.size} rollouts")
    assert(moved > 0 && moved < tight.size,
      "bounded-KV decoding is degenerate on the fixture")
    // the sink is load-bearing: dropping it (pure sliding window)
    // changes some rollout — position 0 really was being attended
    val noSink = Torch.generateGreedy(toks, "tok_ids", "gen", bc,
        steps = 3, nSink = 0, nWindow = 4)
      .select("doc_id", "gen").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(noSink.exists { case (id, g) => g != tight(id) },
      "the attention sink never mattered — vacuous knob")
  }

  test("q283 auto-gamma: yields == q249 histogram; exact-fraction argmax; identity draft ties to the smaller gamma") {
    val tm = graft.SparkEntry.genModel
    val bcT = spark.sparkContext.broadcast(tm)
    val bcD = spark.sparkContext.broadcast(TorchQuant.quantize(tm, 7))
    val toks = fixturePrompts(tm.outDim)
    val rows = Torch.autoGammaYield(toks, "doc_id", "tok_ids", bcT, bcD,
        maxGamma = 2)
      .orderBy("gamma").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4)))
    assert(rows.map(_._1).toSeq == Seq(1, 2))
    // the sweep's yields restate from the q249 histogram: yield_g =
    // Σ min(n_acc, g) + 1 — the position-salted acceptance draws make
    // the horizon irrelevant to WHERE the first rejection lands
    val accs = Torch.speculativeSampledGamma(toks, "doc_id", "tok_ids",
        bcT, bcD, gamma = 2)
      .select("n_accepted").collect().map(_.getInt(0))
    val y1 = accs.map(n => math.min(n, 1) + 1L).sum
    val y2 = accs.map(n => n + 1L).sum
    assert(rows(0)._3 == y1 && rows(1)._3 == y2,
      s"yields (${rows(0)._3}, ${rows(1)._3}) != histogram ($y1, $y2)")
    assert(rows(0)._2 == accs.length && rows(1)._2 == accs.length)
    // exact integer scores: lcm(2,3) = 6 → 3·y1 vs 2·y2, argmax with
    // the gamma-ASC tie rule
    assert(rows(0)._4 == 3 * y1 && rows(1)._4 == 2 * y2)
    val expPick = if (3 * y1 >= 2 * y2) 1 else 2
    assert(rows.filter(_._5 == 1).map(_._1).toSeq == Seq(expPick),
      "the picked gamma is not the exact-fraction argmax")
    info(s"q283 sf0.001: y1=$y1 y2=$y2 picked gamma $expPick")
    // planted cliff: an identity draft accepts EVERYTHING, so yields
    // are exactly (g+1)·n — scores tie at 6n and the pick must fall
    // to the smaller gamma (cheaper drafting, same speedup)
    val idRows = Torch.autoGammaYield(toks, "doc_id", "tok_ids", bcT, bcT,
        maxGamma = 2)
      .orderBy("gamma").collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getInt(4)))
    val n = accs.length.toLong
    assert(idRows.toSeq == Seq((1, 2 * n, 1), (2, 3 * n, 0)),
      s"identity-draft tie did not fall to gamma 1: ${idRows.toSeq}")
  }

  test("q293 bounded-KV pair loop: neutral window replays q279; the sliding window bites in-cycle") {
    val m = graft.SparkEntry.crossGenModel
    val bcT = spark.sparkContext.broadcast(m)
    val bcD = spark.sparkContext.broadcast(TorchQuant.quantize(m, 7))
    val df = crossPrompts(m)
    def run(nSink: Int = -1, nWindow: Int = -1) =
      Torch.speculativeSampledLoop(df, "doc_id", "d_ids",
          bcT, bcD, gamma = 2, maxNewTokens = 2, nSink = nSink,
          nWindow = nWindow, srcCol = "s_ids")
        .select("doc_id", "out_toks", "n_cycles").collect()
        .map(r => r.getLong(0) -> ((r.getSeq[Int](1).toSeq, r.getInt(2))))
        .toMap
    val plain = run()
    // decoder prefixes cap at 2 + 2 emitted + 2 drafts = 6 positions:
    // window 8 never evicts — identical cache walks
    assert(run(nSink = 0, nWindow = 8) == plain,
      "a never-evicting window diverged from the unbounded pair loop")
    // the q293 config (pure 2-window, no sink) must move outcomes —
    // its eviction lands inside cycle-1 verification. NOTE the
    // measured config lesson: sink=1 + window=2 at these prompt
    // lengths only evicts positions feeding truncated-away outputs
    // (0 rows moved at sf0.1) — a bounded-KV gate must PROVE its
    // knob bites, not assume it
    val tight = run(nSink = 0, nWindow = 2)
    val moved = tight.count { case (id, v) => v != plain(id) }
    info(s"q293 sf0.001: eviction moved $moved / ${tight.size} loop outputs")
    assert(moved > 0 && moved < tight.size, "bounded-KV pair loop degenerate")
  }

  test("q287 stochastic-tree loop: cycle 1 IS q280; cycle accounting; both arms live") {
    val tm = graft.SparkEntry.genModel
    val bcT = spark.sparkContext.broadcast(tm)
    val bcD = spark.sparkContext.broadcast(TorchQuant.quantize(tm, 7))
    val toks = fixturePrompts(tm.outDim)
    val loop = Torch.treeDraftStochasticLoop(toks, "doc_id", "tok_ids",
        bcT, bcD, branch = 2, depth = 2, maxNewTokens = 2)
      .select("doc_id", "out_toks", "n_cycles", "n_acc_total").collect()
      .map(r => r.getLong(0) ->
        ((r.getSeq[Int](1).toSeq, r.getInt(2), r.getInt(3)))).toMap
    val cell = Torch.treeDraftStochastic(toks, "doc_id", "tok_ids", bcT,
        bcD, branch = 2, depth = 2)
      .select("doc_id", "n_accepted", "out_toks").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getSeq[Int](2).toSeq))).toMap
    assert(loop.nonEmpty && loop.keySet == cell.keySet)
    var twoCycle = 0
    for ((id, (out, cyc, acc)) <- loop) {
      val (n1, cout) = cell(id)
      assert(out.length == 2)
      assert(out.head == cout.head,
        s"doc $id: loop f1 ${out.head} != q280 cell ${cout.head}")
      if (n1 >= 1) {
        // a cycle with an accepted level emits >= 2 tokens — one
        // cycle suffices and the emission is the cell's prefix
        assert(cyc == 1 && out == cout.take(2) && acc >= n1,
          s"doc $id one-cycle replay broke: $out vs $cout")
      } else { twoCycle += 1; assert(cyc == 2) }
    }
    info(s"q287 sf0.001 two-cycle docs: $twoCycle / ${loop.size}")
    assert(twoCycle > 0 && twoCycle < loop.size, "a cycle arm never fired")
  }

  test("q284/q285 serving-loop knobs: neutral values replay q254; each knob bites; cycle 1 of q285 IS q281") {
    val tm = graft.SparkEntry.genModel
    val bcT = spark.sparkContext.broadcast(tm)
    val bcD = spark.sparkContext.broadcast(TorchQuant.quantize(tm, 7))
    val toks = fixturePrompts(tm.outDim)
    def runLoop(delta: Double = 0.0, nSink: Int = -1, nWindow: Int = -1) =
      Torch.speculativeSampledLoop(toks, "doc_id", "tok_ids", bcT, bcD,
          gamma = 2, maxNewTokens = 2, watermarkDelta = delta,
          nSink = nSink, nWindow = nWindow)
        .select("doc_id", "out_toks", "n_cycles").collect()
        .map(r => r.getLong(0) -> ((r.getSeq[Int](1).toSeq, r.getInt(2))))
        .toMap
    val plain = runLoop()
    // a never-evicting window walks identical arithmetic (prompts cap
    // at 12, verify forks reach 15 — window 16 never evicts)
    assert(runLoop(nSink = 0, nWindow = 16) == plain,
      "a never-evicting window diverged from the unbounded loop")
    // delta = 0 routes through the unbiased softmax path
    assert(runLoop(delta = 0.0) == plain)
    val kv = runLoop(nSink = 1, nWindow = 4)
    val movedKv = kv.count { case (id, v) => v != plain(id) }
    info(s"q284 sf0.001: eviction moved $movedKv / ${kv.size} loop outputs")
    assert(movedKv > 0 && movedKv < kv.size, "bounded-KV loop degenerate")
    val wm = runLoop(delta = 2.0)
    val movedWm = wm.count { case (id, v) => v != plain(id) }
    info(s"q285 sf0.001: watermark moved $movedWm / ${wm.size} loop outputs")
    assert(movedWm > 0 && movedWm < wm.size, "watermarked loop degenerate")
    // cycle 1 of the watermarked loop IS the q281 cell: the first
    // emitted token always agrees, and one-cycle docs emit the cell's
    // prefix verbatim
    val cell = Torch.speculativeSampledGamma(toks, "doc_id", "tok_ids",
        bcT, bcD, gamma = 2, watermarkDelta = 2.0)
      .select("doc_id", "n_accepted", "out_toks").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getSeq[Int](2).toSeq))).toMap
    for ((id, (out, cyc)) <- wm) {
      val (n1, cout) = cell(id)
      assert(out.head == cout.head,
        s"doc $id: watermarked loop f1 ${out.head} != q281 cell ${cout.head}")
      if (n1 >= 1) assert(cyc == 1 && out == cout.take(2))
      else assert(cyc == 2)
    }
    // the q288 composition: BOTH knobs at once, and each still bites
    // inside the composition (differs from each single-knob run
    // somewhere — the beamSearchDiverse-triple lesson applied here)
    val both = runLoop(delta = 2.0, nSink = 1, nWindow = 4)
    assert(both.exists { case (id, v) => v != wm(id) },
      "the window never mattered inside the composed run")
    assert(both.exists { case (id, v) => v != kv(id) },
      "the watermark never mattered inside the composed run")
  }

  test("q292 typical-tree loop: cycle 1 IS q277; cycle accounting; cycle-2 threshold margins floor") {
    val tm = graft.SparkEntry.genModel
    val dm0 = graft.SparkEntry.earlyExitModel
    val vocab = tm.outDim
    val bcT = spark.sparkContext.broadcast(tm)
    val bcD = spark.sparkContext.broadcast(dm0)
    val toks = fixturePrompts(vocab)
    val (eps, alpha) = (0.25, 0.5)
    val loop = Torch.treeDraftTypicalLoop(toks, "tok_ids", bcT, bcD,
        branch = 2, depth = 2, posteriorEps = eps, posteriorAlpha = alpha,
        maxNewTokens = 2)
      .select("doc_id", "tok_ids", "out_toks", "n_cycles", "n_acc_total")
      .collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Int](1).toArray,
        r.getSeq[Int](2).toSeq, r.getInt(3), r.getInt(4)))).toMap
    val cell = Torch.treeDraftTypical(toks, "tok_ids", bcT, bcD,
        branch = 2, depth = 2, posteriorEps = eps, posteriorAlpha = alpha)
      .select("doc_id", "n_accepted", "out_toks").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getSeq[Int](2).toSeq))).toMap
    assert(loop.nonEmpty && loop.keySet == cell.keySet)
    var twoCycle = 0
    for ((id, (_, out, cyc, acc)) <- loop) {
      val (n1, cout) = cell(id)
      assert(out.length == 2)
      assert(out.head == cout.head,
        s"doc $id: loop f1 ${out.head} != q277 cell ${cout.head}")
      if (n1 >= 1) assert(cyc == 1 && out == cout.take(2) && acc >= n1,
        s"doc $id one-cycle replay broke: $out vs $cout")
      else { twoCycle += 1; assert(cyc == 2) }
    }
    info(s"q292 sf0.001 two-cycle docs: $twoCycle / ${loop.size}")
    assert(twoCycle > 0 && twoCycle < loop.size, "a cycle arm never fired")
    // cycle-2 threshold decisions are NEW oracle decision points (the
    // q277 cell's measured margins don't cover grown prefixes) — pin
    // their |p6 − thr6| floor the same way
    def thr6(pp: Array[Double]): Double = {
      val h = -pp.filter(_ > 0.0).map(x => x * StrictMath.log(x)).sum
      q6(math.min(eps, alpha * StrictMath.exp(-h)))
    }
    var minMargin = Double.MaxValue
    for ((id, (prompt, out, cyc, _)) <- loop if cyc == 2) {
      val grown = prompt :+ out.head
      val qp = probs6Of(dm0.forwardTokens(grown)).toArray
      val kids = (0 until vocab).sortBy(j => (-qp(j), j)).take(2)
      val pp = probs6Of(tm.forwardTokens(grown)).toArray
      val t = thr6(pp)
      kids.foreach(c => minMargin = math.min(minMargin, math.abs(pp(c) - t)))
      // and the emitted token is the walk's own restatement
      val acc = kids.filter(c => pp(c) >= t)
      val exp =
        if (acc.isEmpty) {
          val lg = tm.forwardTokens(grown)
          var best = 0
          for (j <- 1 until vocab) if (lg(j) > lg(best)) best = j
          best
        } else acc.minBy(x => (-pp(x), x))
      assert(out(1) == exp,
        s"doc $id: cycle-2 emission ${out(1)} != f64 replay $exp")
    }
    info(s"q292 cycle-2 min |p6 - thr6| margin: $minMargin")
    // measured 0.1195 on the fixture's two-cycle docs (grown prefixes
    // land far from the threshold) — pinned at the cell's 2e-4
    // discipline, ~600x below the measurement
    assert(minMargin >= 2e-4,
      s"cycle-2 typical threshold margin too thin: $minMargin")
  }

  test("q290 auto-branch: yields == the per-branch sweeps; exact scores; identity draft picks the narrow tree") {
    val tm = graft.SparkEntry.genModel
    val bcT = spark.sparkContext.broadcast(tm)
    val bcD = spark.sparkContext.broadcast(TorchQuant.quantize(tm, 7))
    val toks = fixturePrompts(tm.outDim)
    val rows = Torch.autoBranchYield(toks, "doc_id", "tok_ids", bcT, bcD,
        branches = Seq(1, 2), depth = 2)
      .orderBy("branch").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4)))
    def sweepYield(b: Int): Long =
      Torch.treeDraftStochastic(toks, "doc_id", "tok_ids", bcT, bcD,
          branch = b, depth = 2)
        .select("n_accepted").collect().map(_.getInt(0) + 1L).sum
    val (y1, y2) = (sweepYield(1), sweepYield(2))
    assert(rows.map(_._1).toSeq == Seq(1, 2))
    assert(rows(0)._3 == y1 && rows(1)._3 == y2,
      s"yields (${rows(0)._3}, ${rows(1)._3}) != sweeps ($y1, $y2)")
    // lcm(3, 5) = 15 → scores 5·y1 vs 3·y2, branch-ASC tiebreak
    assert(rows(0)._4 == 5 * y1 && rows(1)._4 == 3 * y2)
    val expPick = if (5 * y1 >= 3 * y2) 1 else 2
    assert(rows.filter(_._5 == 1).map(_._1).toSeq == Seq(expPick))
    info(s"q290 sf0.001: y1=$y1 y2=$y2 picked branch $expPick")
    // identity draft: every walk full-depth on BOTH widths — yields
    // equal (depth+1)·n, so the wider tree's budget can't pay and
    // the pick must be branch 1
    val n = toks.count()
    val idRows = Torch.autoBranchYield(toks, "doc_id", "tok_ids", bcT, bcT,
        branches = Seq(1, 2), depth = 2)
      .orderBy("branch").collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getInt(4)))
    assert(idRows.toSeq == Seq((1, 3 * n, 1), (2, 3 * n, 0)),
      s"identity-draft auto-branch broke: ${idRows.toSeq}")
  }

  test("q291 drift flags: exact cross-multiplication vs per-doc recompute; both arms live") {
    val tm = graft.SparkEntry.genModel
    val bcT = spark.sparkContext.broadcast(tm)
    val bcD = spark.sparkContext.broadcast(TorchQuant.quantize(tm, 7))
    val vocab = tm.outDim
    val toks = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"),
        slice(transform(
          call_function("regexp_extract_all", col("text"), lit(graft.Tok.Pattern), lit(0)),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % vocab),
          1, 12).as("tok_ids"))
      .filter(size(col("tok_ids")) >= 1)
    val perDoc = Torch.speculativeSampledGamma(toks, "doc_id", "tok_ids",
        bcT, bcD, gamma = 2)
      .select("source", "n_accepted").collect()
      .map(r => (r.getString(0), r.getInt(1) + 1L))
    val bySrc = perDoc.groupBy(_._1).view
      .mapValues(v => (v.length.toLong, v.map(_._2).sum)).toMap
    val (docsAll, yieldAll) = (perDoc.length.toLong, perDoc.map(_._2).sum)
    val got = graft.SparkEntry.queries("q291_torch_spec_drift")(
        spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.nonEmpty && got.length == bySrc.size)
    for ((src, nd, y, flag) <- got) {
      val (en, ey) = bySrc(src)
      assert(nd == en && y == ey, s"$src: ($nd, $y) != ($en, $ey)")
      assert(flag == (y * docsAll < yieldAll * nd),
        s"$src: drift flag is not the exact cross-multiplication")
    }
    val flagged = got.count(_._4)
    info(s"q291 sf0.001: $flagged / ${got.length} sources below corpus")
    assert(flagged > 0 && flagged < got.length,
      "drift flag degenerate on the fixture")
  }

  test("beamSearchDiverse watermark x fusion x diversity: group 0 IS watermarked-fused plain beams (q271's cell)") {
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val toks = fixturePrompts(vocab)
    // the q257/q271 frozen bigram artifact over the same sliced stream
    val counts = Array.fill(vocab)(Array.fill(vocab)(0L))
    toks.select(explode(zip_with(
          slice(col("tok_ids"), lit(1), greatest(size(col("tok_ids")) - 1, lit(0))),
          slice(col("tok_ids"), lit(2), greatest(size(col("tok_ids")) - 1, lit(0))),
          (a, b) => struct(a.as("p"), b.as("c")))).as("pc"))
      .groupBy(col("pc.p").as("p"), col("pc.c").as("c"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .foreach(r => counts(r.getLong(0).toInt)(r.getLong(1).toInt) = r.getLong(2))
    // the triple composition the requires allow but no oracle pinned
    // (ADVICE r18): diversity's group 0 sees no Hamming penalty, so
    // its beams must be BIT-IDENTICAL to watermarked-fused plain
    // beamSearch — the q271 cell — under the same knobs
    val div = Torch.beamSearchDiverse(toks, "tok_ids", "beams", bc,
        steps = 2, width = 2, groups = 2, diversityPenalty = 0.5,
        watermarkDelta = 2.0, lmWeight = 0.5, lmCounts = counts)
      .select("doc_id", "beams").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[scala.collection.Seq[Int]](1).take(2).map(_.toSeq)).toMap
    val plainB = Torch.beamSearch(toks, "tok_ids", "beams", bc,
        steps = 2, width = 2, watermarkDelta = 2.0, lmWeight = 0.5,
        lmCounts = counts)
      .select("doc_id", "beams").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[scala.collection.Seq[Int]](1).map(_.toSeq)).toMap
    assert(div.nonEmpty && div == plainB,
      "group 0 diverged from watermarked-fused plain beams under the triple")
  }

  test("q278 canary: hits == exhaustive A/B on the fixture slice") {
    val s = spark
    val dir = "/root/testdata/sf0.001"
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val (ixP, codesP) = graft.SparkEntry.q246AnnArtifacts(s, dir)
    val ix = graft.operators.Similarity.loadIndex(s, ixP)
    val codes = s.read.parquet(codesP)
    val canary = graft.operators.Similarity.recallCanary(emb, codes,
        "vec_id", "embedding", ix, ks = Seq(1, 5), shortlist = 100,
        nprobe = 16, sampleEvery = 25, maxSample = 20)
      .orderBy("k").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // the exhaustive A/B restated by hand over the same slice
    val slice = emb.filter(col("vec_id") % 25 === 0).orderBy("vec_id")
      .limit(20)
    val ann = graft.operators.Similarity.ivfPqTopKReranked(emb, codes,
        slice, "vec_id", "embedding", ix, k = 5, shortlist = 100,
        nprobe = 16)
      .select("q_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val exact = graft.operators.Similarity.bruteForceTopK(emb, slice,
        "vec_id", "embedding", k = 5)
      .select("q_id", "vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    def hitsAt(k: Int): Long = exact.count { case (key, er) =>
      er <= k && ann.get(key).exists(_ <= k) }.toLong
    assert(canary.map(_._1).toSeq == Seq(1, 5))
    for ((k, n, hits, expd) <- canary) {
      assert(n == 20 && expd == 20L * k)
      assert(hits == hitsAt(k),
        s"canary hits@$k $hits != exhaustive A/B ${hitsAt(k)}")
    }
    info(s"q278 sf0.001: hits ${canary.map(c => c._1 -> c._3).toSeq}")
    // the canary is not a tautology: k=5 recall is imperfect on this
    // fixture (97/100 measured) — the miss it exists to surface
    assert(canary.find(_._1 == 5).get._3 < 100,
      "recall@5 is perfect here — the canary fixture lost its signal")
  }

  test("q294 auto-nprobe: rung hits == recallCanary per nprobe; integer pick law") {
    val s = spark
    val dir = "/root/testdata/sf0.001"
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val (ixP, codesP) = graft.SparkEntry.q246AnnArtifacts(s, dir)
    val ix = graft.operators.Similarity.loadIndex(s, ixP)
    val codes = s.read.parquet(codesP)
    val ladder = Seq(1, 2, 4, 8, 16)
    val sweep = graft.operators.Similarity.autoNprobe(emb, codes,
        "vec_id", "embedding", ix, k = 5, shortlist = 100,
        nprobes = ladder, recallNum = 7, recallDen = 10,
        sampleEvery = 25, maxSample = 20)
      .orderBy("nprobe").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getInt(5)))
    assert(sweep.map(_._1).toSeq == ladder)
    // the prefix-ladder law: every rung's hits are bit-identical to
    // the standalone canary run at that nprobe (one probe pass priced
    // the whole ladder — nothing approximated)
    for ((n, nS, hits, expd, _, _) <- sweep) {
      val one = graft.operators.Similarity.recallCanary(emb, codes,
          "vec_id", "embedding", ix, ks = Seq(5), shortlist = 100,
          nprobe = n, sampleEvery = 25, maxSample = 20)
        .collect().head
      assert(nS == one.getLong(1) && expd == one.getLong(3))
      assert(hits == one.getLong(2),
        s"rung $n hits $hits != standalone canary ${one.getLong(2)}")
    }
    // the integer pick law restated by hand: meets iff
    // hits*den >= num*expected; picked = smallest meeting rung
    // (fallback: the ladder max), exactly one row picked
    assert(sweep.forall(r => (r._5 == 1) == (r._3 * 10 >= 7L * r._4)))
    val meets = sweep.filter(_._5 == 1).map(_._1)
    val want = if (meets.nonEmpty) meets.min else ladder.max
    assert(sweep.count(_._6 == 1) == 1, "picked must be exactly one rung")
    assert(sweep.find(_._6 == 1).get._1 == want,
      s"picked ${sweep.find(_._6 == 1).get._1} != hand pick $want")
    // the knob BITES on the fixture (the q293 vacuous-knob lesson):
    // the ladder's hits are not flat and the pick is not forced
    assert(sweep.map(_._3).distinct.length > 1,
      "hits flat across the ladder — no recall cliff to pick against")
    info("q294 sf0.001 hits by nprobe: " +
      sweep.map(r => s"${r._1}->${r._3}").mkString(", ") + s", picked $want")
  }

  test("q295 relPos KV: lifts the bias-table length limit; neutral without eviction; diverges from absolute once eviction fires") {
    val m = graft.SparkEntry.alibiRelLmModel
    val rows = graft.SparkEntry.AlibiRelRows
    // (1) the LIFTED LIMIT: a prompt longer than the bias table
    // decodes under re-rotation (slots bounded by nSink + nWindow)
    // and THROWS under the absolute-position windowed session
    val long = Array.tabulate(rows + 4)(i => (i * 3 + 1) % 8)
    val rel = m.decodeSessionRelPos(long, 1, 4)
    val relLogits = rel.logits()
    assert(relLogits.length == 8 && relLogits.forall(v => !v.isNaN))
    intercept[IllegalArgumentException] {
      m.decodeSessionWindowed(long, 1, 4)
    }
    // and it keeps decoding arbitrarily far past the table
    (0 until 6).foreach(t => rel.append(t % 8))
    assert(rel.length == rows + 10 && rel.logits().forall(v => !v.isNaN))
    // (2) NEUTRALITY: with no eviction (length <= nSink + nWindow)
    // slot == absolute position, so relPos ≡ the plain unbounded
    // session BIT-exactly, prompt + appends
    val short = Array(3, 5, 1)
    val a = m.decodeSessionRelPos(short, 0, rows)
    val b = m.decodeSession(short)
    for (t <- Seq(2, 6, 4)) {
      assert(java.util.Arrays.equals(a.logits(), b.logits()),
        s"relPos diverged from the plain session with nothing evicted")
      a.append(t); b.append(t)
    }
    // (3) the dial BITES: once eviction fires, the sink's slot
    // distance compresses (-0.25·slotGap vs -0.25·absGap), so the
    // logits must differ from the ABSOLUTE windowed session on some
    // prompt short enough that both paths run
    val biting = (0 until 8).map(s0 => Array(s0, (s0 + 2) % 8, (s0 + 5) % 8,
      (s0 + 1) % 8, (s0 + 6) % 8, (s0 + 3) % 8)) // length 6 = rows: abs path legal, eviction fires (> 5 kept budget)
    val anyDiff = biting.exists { p =>
      val r = m.decodeSessionRelPos(p, 1, 4).logits()
      val w = m.decodeSessionWindowed(p, 1, 4).logits()
      !java.util.Arrays.equals(r, w)
    }
    assert(anyDiff,
      "re-rotation never changed a logit vs absolute windowed — the dial is vacuous")
  }

  test("q296 relPos spec loop: no eviction == unbounded serving loop bit-exact") {
    val s = spark
    import org.apache.spark.sql.functions._
    val m = graft.SparkEntry.alibiRelLmModel
    val rows = graft.SparkEntry.AlibiRelRows
    val vocab = m.seqHead.get.vocab
    val bcT = s.sparkContext.broadcast(m)
    val bcD = s.sparkContext.broadcast(graft.torch.TorchQuant.quantize(m, 7))
    // single-token prompts: session length peaks at 1 prompt + 3
    // emitted + 2 verification drafts = 6 = biasRows, so the
    // UNBOUNDED loop is legal on the short-table model and relPos at
    // budget (0, 6) never evicts — the two must agree bit-for-bit
    val toks = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        slice(transform(
          call_function("regexp_extract_all", col("text"),
            lit(graft.Tok.Pattern), lit(0)),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % vocab),
          1, 1).as("tok_ids"))
      .filter(size(col("tok_ids")) === 1)
    def run(rel: Boolean): Map[Long, (Seq[Int], Int, Int)] =
      graft.torch.Torch.speculativeSampledLoop(toks, "doc_id", "tok_ids",
          bcT, bcD, gamma = 2, maxNewTokens = 2, batchSize = 256,
          nSink = if (rel) 0 else -1, nWindow = if (rel) rows else -1,
          relPos = rel)
        .select("doc_id", "out_toks", "n_cycles", "n_acc_total").collect()
        .map(r => r.getLong(0) -> ((r.getSeq[Int](1).toSeq, r.getInt(2),
          r.getInt(3)))).toMap
    val rel = run(true)
    val unb = run(false)
    assert(rel.nonEmpty && rel == unb,
      "relPos serving loop diverged from the unbounded loop with nothing evicted")
  }

  test("q297 auto-window: rung divergence == hand A/B; integer pick law; ladder bites") {
    val s = spark
    import org.apache.spark.sql.functions._
    val m = graft.SparkEntry.alibiLmModel
    val vocab = m.seqHead.get.vocab
    val bc = s.sparkContext.broadcast(m)
    val toks = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        slice(transform(
          call_function("regexp_extract_all", col("text"),
            lit(graft.Tok.Pattern), lit(0)),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % vocab),
          1, 12).as("tok_ids"))
      .filter(size(col("tok_ids")) >= 1)
    val ladder = Seq(2, 3, 4, 8, 16)
    val sweep = graft.torch.Torch.autoKvWindow(toks, "tok_ids", bc,
        steps = 3, nSink = 1, windows = ladder, divNum = 7, divDen = 20,
        batchSize = 256)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getInt(4)))
    assert(sweep.map(_._1).toSeq == ladder)
    // every rung's divergence count equals the standalone A/B
    val base = graft.torch.Torch.generateGreedy(toks, "tok_ids", "g", bc,
        steps = 3, batchSize = 256)
      .select("doc_id", "g").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    for ((w, nD, diff, _, _) <- sweep) {
      val wg = graft.torch.Torch.generateGreedy(toks, "tok_ids",
          "g", bc, steps = 3, nSink = 1, nWindow = w, batchSize = 256)
        .select("doc_id", "g").collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
      assert(nD == base.size.toLong && wg.size == base.size)
      val hand = wg.count { case (id, g) => g != base(id) }.toLong
      assert(diff == hand, s"rung $w n_diff $diff != hand A/B $hand")
    }
    // pick law: meets iff n_diff*den <= num*n_docs; picked = smallest
    // meeting rung (fallback ladder max); exactly one picked
    assert(sweep.forall(r => (r._4 == 1) == (r._3 * 20 <= 7L * r._2)))
    val meets = sweep.filter(_._4 == 1).map(_._1)
    val want = if (meets.nonEmpty) meets.min else ladder.max
    assert(sweep.count(_._5 == 1) == 1)
    assert(sweep.find(_._5 == 1).get._1 == want)
    // the ladder BITES (q293 lesson): divergence spans the range —
    // small windows diverge, the full window reduces to the baseline
    assert(sweep.map(_._3).distinct.length > 2,
      "divergence flat across the ladder")
    assert(sweep.last._3 == 0L,
      "the >=max-length rung must be bit-identical to unbounded")
    assert(sweep.head._3 > 0L, "the tightest rung never diverged")
    info("q297 sf0.001 n_diff by window: " +
      sweep.map(r => s"${r._1}->${r._3}").mkString(", ") + s", picked $want")
  }

  test("q298/q299 bounded-KV lookup + tree loops: neutral window == unbounded; knob bites; q298 rides the windowed rollout") {
    val s = spark
    import org.apache.spark.sql.functions._
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bcT = s.sparkContext.broadcast(m)
    val bcD = s.sparkContext.broadcast(graft.torch.TorchQuant.quantize(m, 7))
    val toks = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        slice(transform(
          call_function("regexp_extract_all", col("text"),
            lit(graft.Tok.Pattern), lit(0)),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % vocab),
          1, 12).as("tok_ids"))
      .filter(size(col("tok_ids")) >= 1)
    def collectLk(nS: Int, nW: Int): Map[Long, (Seq[Int], Int, Int)] =
      graft.torch.Torch.generatePromptLookupLoop(toks, "tok_ids", bcT,
          ngram = 2, maxDraft = 2, maxNewTokens = 2, batchSize = 256,
          nSink = nS, nWindow = nW)
        .select("doc_id", "out_toks", "n_cycles", "n_acc_total").collect()
        .map(r => r.getLong(0) -> ((r.getSeq[Int](1).toSeq, r.getInt(2),
          r.getInt(3)))).toMap
    val lkUnb = collectLk(-1, -1)
    // neutrality: a window >= every sequence length never evicts
    assert(collectLk(1, 32) == lkUnb,
      "q298 neutral window diverged from the unbounded lookup loop")
    // the knob bites (q293 lesson): the serving budget moves outputs
    val lkW = collectLk(1, 4)
    val lkMoved = lkW.count { case (id, v) => v != lkUnb(id) }
    assert(lkMoved > 0, "q298 KV budget moved nothing — vacuous knob")
    // greedy-equivalence under visibility: emissions == the WINDOWED
    // greedy rollout truncated to maxNewTokens, on every row
    val wg = graft.torch.Torch.generateGreedy(toks, "tok_ids",
        "g", bcT, steps = 2, nSink = 1, nWindow = 4, batchSize = 256)
      .select("doc_id", "g").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(lkW.forall { case (id, v) => v._1 == wg(id) },
      "q298 emissions are not the windowed rollout prefix")
    info(s"q298: KV budget moved $lkMoved/${lkUnb.size} rows")
    def collectTr(nS: Int, nW: Int): Map[Long, (Seq[Int], Int, Int)] =
      graft.torch.Torch.treeDraftStochasticLoop(toks, "doc_id", "tok_ids",
          bcT, bcD, branch = 2, depth = 2, maxNewTokens = 2,
          batchSize = 256, nSink = nS, nWindow = nW)
        .select("doc_id", "out_toks", "n_cycles", "n_acc_total").collect()
        .map(r => r.getLong(0) -> ((r.getSeq[Int](1).toSeq, r.getInt(2),
          r.getInt(3)))).toMap
    val trUnb = collectTr(-1, -1)
    assert(collectTr(1, 32) == trUnb,
      "q299 neutral window diverged from the unbounded tree loop")
    val trW = collectTr(1, 4)
    val trMoved = trW.count { case (id, v) => v != trUnb(id) }
    assert(trMoved > 0, "q299 KV budget moved nothing — vacuous knob")
    info(s"q299: KV budget moved $trMoved/${trUnb.size} rows")
  }

  test("q301/q302 bounded-KV greedy-tree + typical-tree loops: neutral window == unbounded; knob bites; q301 rides the windowed rollout") {
    val s = spark
    import org.apache.spark.sql.functions._
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bcT = s.sparkContext.broadcast(m)
    val bcD = s.sparkContext.broadcast(graft.torch.TorchQuant.quantize(m, 7))
    val bcE = s.sparkContext.broadcast(graft.SparkEntry.earlyExitModel)
    val toks = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        slice(transform(
          call_function("regexp_extract_all", col("text"),
            lit(graft.Tok.Pattern), lit(0)),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % vocab),
          1, 12).as("tok_ids"))
      .filter(size(col("tok_ids")) >= 1)
    def collectG(nS: Int, nW: Int): Map[Long, (Seq[Int], Int, Int)] =
      graft.torch.Torch.treeDraftGreedyLoop(toks, "tok_ids", bcT, bcD,
          branch = 2, depth = 2, maxNewTokens = 2, batchSize = 256,
          nSink = nS, nWindow = nW)
        .select("doc_id", "out_toks", "n_cycles", "n_acc_total").collect()
        .map(r => r.getLong(0) -> ((r.getSeq[Int](1).toSeq, r.getInt(2),
          r.getInt(3)))).toMap
    val gUnb = collectG(-1, -1)
    assert(collectG(1, 32) == gUnb,
      "q301 neutral window diverged from the unbounded greedy-tree loop")
    val gW = collectG(1, 4)
    val gMoved = gW.count { case (id, v) => v != gUnb(id) }
    assert(gMoved > 0, "q301 KV budget moved nothing — vacuous knob")
    // greedy-equivalence per visibility: emissions == windowed rollout
    val wg = graft.torch.Torch.generateGreedy(toks, "tok_ids",
        "g", bcT, steps = 2, nSink = 1, nWindow = 4, batchSize = 256)
      .select("doc_id", "g").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(gW.forall { case (id, v) => v._1 == wg(id) },
      "q301 emissions are not the windowed rollout prefix")
    info(s"q301: KV budget moved $gMoved/${gUnb.size} rows")
    def collectTy(nS: Int, nW: Int): Map[Long, (Seq[Int], Int, Int)] =
      graft.torch.Torch.treeDraftTypicalLoop(toks, "tok_ids", bcT, bcE,
          branch = 2, depth = 2, posteriorEps = 0.25,
          posteriorAlpha = 0.5, maxNewTokens = 2, batchSize = 256,
          nSink = nS, nWindow = nW)
        .select("doc_id", "out_toks", "n_cycles", "n_acc_total").collect()
        .map(r => r.getLong(0) -> ((r.getSeq[Int](1).toSeq, r.getInt(2),
          r.getInt(3)))).toMap
    val tyUnb = collectTy(-1, -1)
    assert(collectTy(1, 32) == tyUnb,
      "q302 neutral window diverged from the unbounded typical-tree loop")
    val tyW = collectTy(1, 4)
    val tyMoved = tyW.count { case (id, v) => v != tyUnb(id) }
    assert(tyMoved > 0, "q302 KV budget moved nothing — vacuous knob")
    info(s"q302: KV budget moved $tyMoved/${tyUnb.size} rows")
  }

  test("q303/q304 relPos lookup + tree loops: past-the-table corpus decodes; neutral budget == unbounded; q303 rides the relPos rollout") {
    val s = spark
    import org.apache.spark.sql.functions._
    val m = graft.SparkEntry.alibiRelLmModel
    val rows = graft.SparkEntry.AlibiRelRows
    val vocab = m.seqHead.get.vocab
    val bcT = s.sparkContext.broadcast(m)
    val bcD = s.sparkContext.broadcast(graft.torch.TorchQuant.quantize(m, 7))
    def tokCol(cap: Int) = slice(transform(
        call_function("regexp_extract_all", col("text"),
          lit(graft.Tok.Pattern), lit(0)),
        tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % vocab),
        1, cap).as("tok_ids")
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val toks = docs.select(col("doc_id"), tokCol(12))
      .filter(size(col("tok_ids")) >= 1)
    // the lifted limit is EXERCISED corpus-wide: most prompts exceed
    // the 6-row table, where the absolute dial cannot even open
    val past = toks.filter(size(col("tok_ids")) > rows).count()
    assert(past > 0, "no prompt exceeds the table — the demo is vacuous")
    val q303 = graft.torch.Torch.generatePromptLookupLoop(toks, "tok_ids",
        bcT, ngram = 2, maxDraft = 2, maxNewTokens = 2, batchSize = 256,
        nSink = 1, nWindow = 4, relPos = true)
      .select("doc_id", "out_toks").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(q303.size == toks.count())
    // greedy-equivalence under re-rotation: emissions == the relPos
    // rollout truncated, on every row
    val wg = graft.torch.Torch.generateGreedy(toks, "tok_ids",
        "g", bcT, steps = 2, nSink = 1, nWindow = 4, batchSize = 256,
        relPos = true)
      .select("doc_id", "g").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(q303.forall { case (id, v) => v == wg(id) },
      "q303 emissions are not the relPos rollout prefix")
    info(s"q303: ${past} prompts decode past the $rows-row table")
    // neutrality on single-token prompts at the full-table budget:
    // session length peaks at 1 + 3 emitted (lookup) / +2 forks
    // (tree) <= 6, so the unbounded loops are legal and relPos at
    // (0, 6) never evicts — bit-equality both modes
    val toks1 = docs.select(col("doc_id"), tokCol(1))
      .filter(size(col("tok_ids")) === 1)
    def lk(rel: Boolean): Map[Long, Seq[Any]] =
      graft.torch.Torch.generatePromptLookupLoop(toks1, "tok_ids", bcT,
          ngram = 2, maxDraft = 2, maxNewTokens = 2, batchSize = 256,
          nSink = if (rel) 0 else -1, nWindow = if (rel) rows else -1,
          relPos = rel)
        .select("doc_id", "out_toks", "n_cycles", "n_acc_total")
        .collect().map(r => r.getLong(0) -> r.toSeq.drop(2)).toMap
    assert(lk(true) == lk(false) && lk(true).nonEmpty,
      "q303 neutral budget diverged from the unbounded lookup loop")
    def tr(rel: Boolean): Map[Long, Seq[Any]] =
      graft.torch.Torch.treeDraftGreedyLoop(toks1, "tok_ids", bcT, bcD,
          branch = 2, depth = 2, maxNewTokens = 2, batchSize = 256,
          nSink = if (rel) 0 else -1, nWindow = if (rel) rows else -1,
          relPos = rel)
        .select("doc_id", "out_toks", "n_cycles", "n_acc_total")
        .collect().map(r => r.getLong(0) -> r.toSeq.drop(2)).toMap
    assert(tr(true) == tr(false) && tr(true).nonEmpty,
      "q304 neutral budget diverged from the unbounded tree loop")
  }
}
