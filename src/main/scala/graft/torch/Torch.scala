package graft.torch

import graft.Kernel
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, min, sum, when}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/**
 * The engine's answer to the reference's `FunctionFactory` + `TorchUdf`
 * (reference src/lib.rs:23-100, src/udf.rs:20-287): turn a TorchScript
 * model URL into a registered Spark scalar function.
 *
 * Scale design: model weights are parsed ONCE on the driver and shipped
 * to executors via `sparkContext.broadcast` — never closure-captured per
 * task — so a multi-MB model crosses the wire once per executor, not
 * once per task.
 */
object Torch {

  /** The 6-dp HALF_UP grid every sampled, speculative and contrastive
    * decision is made on. */
  private def q6(x: Double): Double =
    BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble

  /** MD5's leading 32 bits of `key`'s UTF-8 bytes, read as an unsigned
    * big-endian int: the SQL side's `CAST('0x' || substring(md5(key), 1,
    * 8) AS BIGINT)`. */
  private def md5Lead32(key: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(key.getBytes("UTF-8"))
    (d(0) & 0xffL) << 24 | (d(1) & 0xffL) << 16 | (d(2) & 0xffL) << 8 | (d(3) & 0xffL)
  }

  /** The seeded uniform draw on the 1e-6 grid keyed by `key`. */
  private def unitDraw(key: String): Double = (md5Lead32(key) % 1000000L) / 1e6

  /** (max, Σ exp(x − max)) over `x` in ascending index order: the f64
    * softmax normaliser of [[logSoftmax]] and [[Spec.grid6]]. */
  private def expSum(x: Array[Double]): (Double, Double) = {
    var mx = Double.NegativeInfinity
    var j = 0
    while (j < x.length) { if (x(j) > mx) mx = x(j); j += 1 }
    var z = 0.0
    j = 0
    while (j < x.length) { z += math.exp(x(j) - mx); j += 1 }
    (mx, z)
  }

  /** The f64 log-softmax of `x` (the beam, contrastive and
    * continuation scores). */
  private def logSoftmax(x: Array[Double]): Array[Double] = {
    val (mx, z) = expSum(x)
    val lse = math.log(z) + mx
    x.map(_ - lse)
  }

  /** The deterministic sampling kernel shared by [[generateSampled]]
    * and [[generateSampledK]] — see generateSampled's scaladoc for
    * the full cross-engine contract (seeded md5 draws, 6-dp HALF_UP
    * quantization, order-defined running sums). */
  private object Sampling {
    def draw(id: Long, step: Int): Double = unitDraw(s"$id:$step")
    /** The watermark green-list membership (Kirchenbauer et al. 2023,
      * general gamma = num/den): token `j` is GREEN after `prev` iff
      * md5("<prev>:<j>")'s leading 32 bits mod `den` fall below `num`
      * — an exact integer predicate a SQL engine recomputes from the
      * same strings, so generation-side biasing and corpus-side
      * detection share one function at ANY rational green fraction.
      * (num, den) = (1, 2) is the original parity rule: `% 2 < 1`
      * ⟺ `% 2 == 0`, bit-for-bit the pre-gamma behavior. */
    def greenToken(prev: Int, j: Int, num: Int, den: Int): Boolean =
      md5Lead32(s"$prev:$j") % den < num
    def greenToken(prev: Int, j: Int): Boolean = greenToken(prev, j, 1, 2)
    /** The multi-return draw (`num_return_sequences`): sequence 0
      * keeps the single-return key `"<id>:<step>"` — so k = 1 and the
      * first of k sequences are bit-identical to [[generateSampled]]
      * — and every extra sequence salts the key with its index,
      * `"<id>:<seq>:<step>"`. */
    def draw(id: Long, seq: Int, step: Int): Double =
      if (seq == 0) draw(id, step) else unitDraw(s"$id:$seq:$step")
    def sampleNext(out: Array[Float], off: Int, vocab: Int,
        temperature: Double, topP: Double, u: Double,
        banned: Set[Int] = Set.empty, topK: Int = Int.MaxValue,
        seen: Set[Int] = Set.empty, repPenalty: Double = 1.0,
        minP: Double = 0.0, typicalP: Double = 1.0,
        greenPrev: Int = -1, greenDelta: Double = 0.0,
        greenNum: Int = 1, greenDen: Int = 2,
        fusePrev: Int = -1, fuseWeight: Double = 0.0,
        fuseCnts: Array[Array[Long]] = null,
        fuseRows: Array[Long] = null): Int = {
      // constrained decoding: banned ids are removed BEFORE the
      // softmax (the -inf-mask semantics: the distribution renorms
      // over the allowed vocabulary; the oracle simply omits them
      // from the unpivot). ids stay ascending, so the full-vocab f64
      // accumulation order is unchanged when nothing is banned.
      // repetition penalty (CTRL): SEEN-token logits rescale in f64
      // BEFORE the temperature — `x > 0 → x/p else x·p` — exactly the
      // greedy path's adjustment, so the same oracle CASE restates it.
      val ids = (0 until vocab).filterNot(banned).toArray
      val lp = ids.map { j =>
        val x0 = out(off + j).toDouble
        val xp =
          if (seen(j)) { if (x0 > 0.0) x0 / repPenalty else x0 * repPenalty }
          else x0
        // soft watermark under sampling (Kirchenbauer et al. 2023's
        // deployment mode): the green logits gain +delta BEFORE the
        // temperature — the guarded branch keeps delta = 0
        // bit-identical to the unwatermarked path
        val x =
          if (greenDelta != 0.0 && greenPrev >= 0 &&
              greenToken(greenPrev, j, greenNum, greenDen))
            xp + greenDelta
          else xp
        // shallow fusion under sampling (the Gulcehre prior lifted
        // to the sampled chain): the frozen add-one bigram-LM term
        // adds BEFORE the temperature, like the watermark bias —
        // guarded so fuseWeight = 0 stays bit-exact
        val xf =
          if (fuseWeight != 0.0 && fusePrev >= 0)
            x + fuseWeight * StrictMath.log(
              (fuseCnts(fusePrev)(j) + 1L).toDouble /
                (fuseRows(fusePrev) + vocab.toLong).toDouble)
          else x
        xf / temperature
      }
      val mx = lp.max
      val es = lp.map(v => math.exp(v - mx))
      val z = es.sum
      val p6 = es.map(e => q6(e / z))
      val order = ids.indices.sortBy(i => (-p6(i), ids(i)))
      // nucleus: a candidate joins while the mass BEFORE it is < topP
      // AND its rank is within topK AND its own mass clears the min-p
      // floor `p6 >= minP·p6max` (Nguyen et al. 2024 — minP dyadic, so
      // the product is exact and the comparison lives on the 1e-6
      // grid). All three are prefix filters on the same
      // (p6 DESC, tid ASC) order — ties share a p6 value, so the
      // min-p cut never splits a tie — and each knob at its neutral
      // value (topP 1, topK >= |ids|, minP 0) reduces BIT-EXACTLY to
      // the others' path: the f64 running sums see identical terms in
      // identical order (spec-pinned).
      val pMax = p6(order.head)
      // TYPICAL sampling (Meister et al. 2022, HF `typical_p`): keep
      // the candidates whose surprise `-ln p` sits closest to the
      // step's entropy `H = -Σ p·ln p`, in deviation order, until the
      // kept mass reaches typicalP — locally-typical text, the
      // anti-"always the head OR the flat tail" filter. Deviations
      // quantize to the 6dp grid (tid tiebreak) so the keep boundary
      // never hinges on cross-engine last-ulp luck; the entropy sums
      // q6'd masses in ascending-tid order (zero-mass candidates
      // contribute the 0·ln 0 = 0 limit and are never kept — their
      // surprise is infinite). typicalP >= 1 is OFF (not a prefix of
      // the mass order, so "keep everything" is the only bit-exact
      // neutral) — the other knobs' paths are untouched.
      val typKeep: java.util.BitSet =
        if (typicalP >= 1.0) null
        else {
          var h = 0.0
          var i = 0
          while (i < p6.length) {
            if (p6(i) > 0.0) h -= p6(i) * StrictMath.log(p6(i))
            i += 1
          }
          val devOrder = ids.indices.filter(p6(_) > 0.0)
            .sortBy(i => (q6(math.abs(-StrictMath.log(p6(i)) - h)), ids(i)))
          val bs = new java.util.BitSet(p6.length)
          var dcum = 0.0
          for (i <- devOrder if dcum < typicalP) { bs.set(i); dcum += p6(i) }
          bs
        }
      val kept = scala.collection.mutable.ArrayBuffer.empty[Int]
      var cum = 0.0
      for ((i, rk) <- order.zipWithIndex
           if cum < topP && rk < topK && p6(i) >= minP * pMax &&
             (typKeep == null || typKeep.get(i))) {
        kept += i; cum += p6(i)
      }
      // total == the last running sum (ORDER-DEFINED on both engines)
      var run = 0.0
      val sums = kept.map { i => run += p6(i); run }
      val total = run
      var pick = kept.last
      var done = false
      for ((i, cs) <- kept.zip(sums) if !done)
        if (q6(cs / total) > u) { pick = i; done = true }
      ids(pick)
    }
  }

  /** The SPECULATIVE-decoding core every spec* and tree decoder runs
    * through: the draft-verify walks (the chain [[cycle]], the
    * deterministic [[walk]] under an acceptance [[Rule]], the stochastic
    * [[level]] and [[stochasticWalk]]), the proposers they walk
    * ([[draftTree]], [[lookupDraft]]) and the one serving driver
    * [[serve]]. Every cell is cycle 1 of the function its serving loop
    * runs, so a new mode is a proposer or an acceptance rule, never a
    * copied loop. Contract (see speculativeSampled's scaladoc):
    * distributions are full-vocab softmaxes quantized to the 6dp grid;
    * draws are independent md5 draws keyed `"<id>:spec:<salt>"` on the
    * 1e-6 grid, salted by global position; the pick is the
    * order-defined renormalized-cumulative walk over
    * (mass DESC, tid ASC). */
  private object Spec extends Serializable {
    type Sess = TorchScriptModel#DecodeSession
    def draw(id: Long, salt: String): Double = unitDraw(s"$id:spec:$salt")
    def probs6(lg: Array[Float], vocab: Int): Array[Double] =
      grid6(Array.tabulate(vocab)(lg(_).toDouble))
    /** The f64 softmax of `x`, each mass quantized to the 6dp grid. */
    def grid6(x: Array[Double]): Array[Double] = {
      val (mx, z) = expSum(x)
      x.map(v => q6(math.exp(v - mx) / z))
    }
    /** The order-defined renormalized-cumulative pick over
      * (mass DESC, tid ASC) — exactly the q203 nucleus walk at
      * topP = 1 (so every positive-mass candidate is kept). */
    def pick(mass: Array[Double], u: Double): Int = {
      val order = mass.indices.filter(mass(_) > 0.0)
        .sortBy(j => (-mass(j), j))
      var run = 0.0
      val sums = order.map { j => run += mass(j); run }
      val total = run
      var chosen = order.last
      var done = false
      for ((j, cs) <- order.zip(sums) if !done)
        if (q6(cs / total) > u) { chosen = j; done = true }
      chosen
    }
    /** The MULTI-ROUND b-way verification walk (SpecInfer's recursive
      * rejection at ONE position) of every [[level]] and of each chain
      * position of [[cycle]] (b = 1). Round i accepts draft `x_i` w.p.
      * `min(1, p_i(x_i)/q(x_i))` (p_1 = the target's grid
      * distribution); a rejection updates `p_{i+1} = q6-normalized
      * max(0, p_i − q)` ONLY when a later round needs the ratio —
      * the final rejection's pick walks the RAW residual masses
      * (scale-invariant; b = 1 is bit-exactly q247's resid pick).
      * An all-zero residual (p_i == q on the grid) keeps the current
      * draft. Salts: acceptance i = `"a<saltOff+i>"` (1-based),
      * final residual = `"r<saltOff+b>"`.
      *
      * @return (accRound, finalTok): accRound = the 1-based round
      *         whose draft was accepted, 0 = residual-sampled (or
      *         the all-zero-residual keep) */
    def multiRoundWalk(drafts: Array[Int], qp: Array[Double],
        pp: Array[Double], vocab: Int, id: Long, saltOff: Int): (Int, Int) = {
      var cur = pp
      var accRound = 0
      var finalTok = -1
      var i = 0
      var done = false
      while (i < drafts.length && !done) {
        val x = drafts(i)
        val ratio = q6(math.min(1.0, cur(x) / qp(x)))
        if (draw(id, s"a${saltOff + i + 1}") < ratio) {
          accRound = i + 1; finalTok = x; done = true
        } else {
          val m = Array.tabulate(vocab)(j => math.max(0.0, cur(j) - qp(j)))
          if (m.forall(_ == 0.0)) {
            finalTok = x; done = true // p_i == q on the grid
          } else if (i + 1 < drafts.length) {
            var s = 0.0
            var j = 0
            while (j < vocab) { s += m(j); j += 1 }
            cur = Array.tabulate(vocab)(j => q6(m(j) / s))
          } else {
            finalTok = pick(m, draw(id, s"r${saltOff + drafts.length}"))
            done = true
          }
        }
        i += 1
      }
      (accRound, finalTok)
    }
    /** The target's grid distribution under the green-list bias: the
      * raw logits gain `delta` on the tokens green after `prev`, THEN
      * the softmax (the lse shifts with the bias — q239's greedy
      * order). delta = 0 is [[probs6]], bit for bit. */
    def probs6W(lg: Array[Float], vocab: Int, prev: Int, delta: Double,
        num: Int, den: Int): Array[Double] =
      if (delta == 0.0) probs6(lg, vocab)
      else grid6(Array.tabulate(vocab)(j =>
        lg(j).toDouble + (if (Sampling.greenToken(prev, j, num, den)) delta else 0.0)))
    /** One chain draft-verify cycle (Leviathan/Chen 2023): the draft
      * session `sd` samples `gamma` tokens, the target session `st`
      * scores all `gamma + 1` prefixes (one append per draft; the
      * watermark keys each prefix on its last token, `prev` for the
      * first), the prefix walk accepts drafts in order, and the first
      * rejection emits a residual pick — or, every draft accepted, the
      * bonus pick. Both sessions are appended to: pass forks to keep
      * the originals. Salts are global positions — cycle `c` (1-based)
      * draft/accept/residual i use `(c−1)·gamma + i`, the bonus
      * `b<c>` — so [[speculativeSampledGamma]] is cycle 1 and
      * [[speculativeSampledLoop]] runs cycle after cycle.
      *
      * @return (the drafts, the accepted count, the emitted tokens:
      *         the accepted run + correction-or-bonus) */
    def cycle(sd: Sess, st: Sess, prev: Int, gamma: Int, vocab: Int, id: Long, c: Int,
        wmDelta: Double, wmNum: Int, wmDen: Int): (Array[Int], Int, Seq[Int]) = {
      val base = (c - 1) * gamma
      val drafts = new Array[Int](gamma)
      val qm = new Array[Array[Double]](gamma)
      var i = 0
      while (i < gamma) {
        qm(i) = probs6(sd.logits(), vocab)
        drafts(i) = pick(qm(i), draw(id, s"d${base + i + 1}"))
        sd.append(drafts(i))
        i += 1
      }
      val pm = new Array[Array[Double]](gamma + 1)
      pm(0) = probs6W(st.logits(), vocab, prev, wmDelta, wmNum, wmDen)
      i = 0
      while (i < gamma) {
        st.append(drafts(i))
        pm(i + 1) = probs6W(st.logits(), vocab, drafts(i), wmDelta, wmNum, wmDen)
        i += 1
      }
      // the prefix walk: position n is a one-draft multi-round walk
      var n = 0
      var corr = -1
      while (n < gamma && corr < 0) {
        val (acc, tok) = multiRoundWalk(Array(drafts(n)), qm(n), pm(n), vocab, id, base + n)
        if (acc == 1) n += 1 else corr = tok
      }
      (drafts, n, drafts.take(n).toSeq :+ (if (corr >= 0) corr else pick(pm(gamma), draw(id, s"b$c"))))
    }
    /** The `branch × depth` draft TREE rooted at `root` (Medusa /
      * SpecInfer): a node's children are the draft's top-`branch`
      * tokens by (p6 DESC, tid ASC) — the q241 top-k pick — built
      * breadth-first with one draft logit read per node on a fork
      * (`root` itself is only read). Children index by PATH, so two
      * same-level nodes under different parents can share a token
      * without clobbering each other's subtrees.
      *
      * @return (the children arrays in BFS node order, each node's
      *         children by path) */
    def draftTree(root: Sess, vocab: Int, branch: Int,
        depth: Int): (Seq[Seq[Int]], scala.collection.Map[Vector[Int], Array[Int]]) = {
      val tree = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
      val childrenOf = scala.collection.mutable.Map.empty[Vector[Int], Array[Int]]
      var frontier: Seq[(Sess, Vector[Int])] = Seq((root, Vector.empty))
      while (frontier.nonEmpty) {
        val next = scala.collection.mutable.ArrayBuffer.empty[(Sess, Vector[Int])]
        frontier.foreach { case (sess, path) =>
          val p6 = probs6(sess.logits(), vocab)
          val kids = (0 until vocab).sortBy(j => (-p6(j), j)).take(branch).toArray
          tree += kids.toSeq
          childrenOf(path) = kids
          if (path.length + 1 < depth) kids.foreach { c =>
            val child = sess.fork()
            child.append(c)
            next += ((child, path :+ c))
          }
        }
        frontier = next.toSeq
      }
      (tree.toSeq, childrenOf)
    }
    /** Medusa's typical-acceptance threshold at a prefix:
      * `q6(min(eps, alpha·exp(−H)))` with H = −Σ p6·ln(p6) over the
      * positive grid masses, ascending tid. */
    def threshold6(pp: Array[Double], eps: Double, alpha: Double): Double = {
      var h = 0.0
      var j = 0
      while (j < pp.length) {
        if (pp(j) > 0.0) h -= pp(j) * StrictMath.log(pp(j))
        j += 1
      }
      q6(math.min(eps, alpha * StrictMath.exp(-h)))
    }
    /** An acceptance rule of [[walk]]: given the target's logits at the
      * accepted prefix and the proposal's children there, the child
      * the walk descends into, or −1 to stop. */
    type Rule = (Array[Float], Array[Int]) => Int
    /** Exact match: the target's argmax, when it is a child. */
    def exact(vocab: Int): Rule = { (lg, kids) =>
      val t = argmaxFirst(lg, vocab)
      if (kids.contains(t)) t else -1
    }
    /** Medusa's typical acceptance: the children whose p6 clears
      * [[threshold6]]; the highest-p6 one (tid tiebreak) descends. */
    def typical(vocab: Int, eps: Double, alpha: Double): Rule = { (lg, kids) =>
      val pp = probs6(lg, vocab)
      val thr = threshold6(pp, eps, alpha)
      val acc = kids.filter(c => pp(c) >= thr)
      if (acc.isEmpty) -1 else acc.minBy(x => (-pp(x), x))
    }
    /** The DETERMINISTIC draft walk: from the target session `st`, each
      * level lets `accept` pick among the children of the accepted path
      * (`kids`, a proposal given by path, at most `depth` levels deep)
      * and appends the pick to `st`; the walk stops at the first level
      * without a pick, and the final token is the target's argmax at
      * that prefix (the correction, or the bonus after `depth` levels).
      * One logit read per level visited; the final token is not
      * appended — a serving loop rolls it forward.
      *
      * @return (the accepted count, the accepted path + final token) */
    def walk(st: Sess, kids: Vector[Int] => Array[Int], depth: Int, vocab: Int,
        accept: Rule): (Int, Seq[Int]) = {
      var path = Vector.empty[Int]
      var lg = st.logits()
      var next = if (depth > 0) accept(lg, kids(path)) else -1
      while (next >= 0) {
        path :+= next
        st.append(next)
        lg = st.logits()
        next = if (path.length < depth) accept(lg, kids(path)) else -1
      }
      (path.length, path :+ argmaxFirst(lg, vocab))
    }
    /** A tree cycle ([[treeDraftGreedy]], [[treeDraftTypical]] and their
      * loops): the draft's `branch × depth` tree rooted at `sd` (only
      * read), walked on `st` under `accept`.
      *
      * @return (the tree in BFS order, the accepted count, the emitted
      *         tokens) */
    def treeWalk(sd: Sess, st: Sess, branch: Int, depth: Int, vocab: Int,
        accept: Rule): (Seq[Seq[Int]], Int, Seq[Int]) = {
      val (tree, kids) = draftTree(sd, vocab, branch, depth)
      val (n, out) = walk(st, kids, depth, vocab, accept)
      (tree, n, out)
    }
    /** A prompt-lookup cycle ([[generatePromptLookup]] and its loop):
      * the lookup drafts over `full` enter [[walk]] as a branch-1
      * chain under exact match.
      *
      * @return (the drafts, the accepted count, the emitted tokens) */
    def lookupWalk(st: Sess, full: scala.collection.IndexedSeq[Int],
        ngram: Int, maxDraft: Int, vocab: Int): (Array[Int], Int, Seq[Int]) = {
      val drafts = lookupDraft(full, ngram, maxDraft)
      val (n, out) = walk(st, path => Array(drafts(path.length)), drafts.length, vocab, exact(vocab))
      (drafts, n, out)
    }
    /** ONE STOCHASTIC LEVEL: `branch` draft samples from the draft's
      * grid distribution `qp` (salts `d<off+i>`), then
      * [[multiRoundWalk]] against the target's distribution at `st`.
      *
      * @return (the drafts, the accepted round (0: residual-sampled),
      *         the emitted token) */
    def level(qp: Array[Double], st: Sess, branch: Int,
        vocab: Int, id: Long, off: Int): (Array[Int], Int, Int) = {
      val drafts = Array.tabulate(branch)(i => pick(qp, draw(id, s"d${off + i + 1}")))
      val (acc, tok) = multiRoundWalk(drafts, qp, probs6(st.logits(), vocab), vocab, id, off)
      (drafts, acc, tok)
    }
    /** The STOCHASTIC walk of cycle `c`: [[level]]s down the accepted
      * path, level ℓ drawing at offset `((c−1)·depth + ℓ−1)·branch` from
      * `q(ℓ−1)`. An accepted draft is appended to every session in
      * `grow` and descends; a residual pick stops; `depth` accepted
      * levels earn the bonus sample `b<c>` at the target's prefix. The
      * final token is not appended.
      *
      * @return (each level's drafts, each level's accepted round, the
      *         emitted tokens) */
    def stochasticWalk(st: Sess, grow: Seq[Sess], q: Int => Array[Double], depth: Int,
        branch: Int, vocab: Int, id: Long, c: Int): (Seq[Seq[Int]], Seq[Int], Seq[Int]) = {
      val tree = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
      val rounds = scala.collection.mutable.ArrayBuffer.empty[Int]
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      var stopped = false
      while (rounds.length < depth && !stopped) {
        val (drafts, acc, tok) = level(q(rounds.length), st, branch, vocab, id,
          ((c - 1) * depth + rounds.length) * branch)
        tree += drafts.toSeq
        rounds += acc
        out += tok
        if (acc == 0) stopped = true else grow.foreach(_.append(tok))
      }
      if (!stopped) out += pick(probs6(st.logits(), vocab), draw(id, s"b$c"))
      (tree.toSeq, rounds.toSeq, out.toSeq)
    }
    /** A stochastic tree cycle ([[treeDraftStochastic]] and its loop):
      * the lazy tree, q read from the draft session `sd` at the
      * accepted prefix. */
    def treeSampledWalk(sd: Sess, st: Sess, branch: Int, depth: Int, vocab: Int, id: Long,
        c: Int): (Seq[Seq[Int]], Seq[Int], Seq[Int]) =
      stochasticWalk(st, Seq(sd, st), _ => probs6(sd.logits(), vocab), depth, branch, vocab, id, c)
    /** The sampled prompt-lookup walk ([[promptLookupSampled]]): each
      * lookup draft is a one-draft level with the point mass q = δ_x.
      *
      * @return (the drafts, the accepted count, the emitted tokens) */
    def lookupSampledWalk(st: Sess, full: scala.collection.IndexedSeq[Int],
        ngram: Int, maxDraft: Int, vocab: Int, id: Long): (Array[Int], Int, Seq[Int]) = {
      val drafts = lookupDraft(full, ngram, maxDraft)
      val (_, rounds, out) = stochasticWalk(st, Seq(st),
        n => Array.tabulate(vocab)(j => if (j == drafts(n)) 1.0 else 0.0),
        drafts.length, 1, vocab, id, 1)
      (drafts, rounds.count(_ > 0), out)
    }
    /** The SERVING DRIVER of every speculative loop: runs `cycle(c)` for
      * c = 1, 2, … until `maxNewTokens` tokens are emitted and keeps the
      * first `maxNewTokens`. Each cycle returns (its proposal, its count,
      * its emitted tokens) — a cell's own result; `advance` rolls the
      * sessions forward over a cycle's tokens only when another cycle
      * follows. A cycle runs to completion even when it overshoots, so
      * counts are cycle-level.
      *
      * @return (the emitted tokens, each cycle's count) */
    def serve[A](maxNewTokens: Int)(cycle: Int => (A, Int, Seq[Int]))(
        advance: Seq[Int] => Unit): (Seq[Int], Seq[Int]) = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      val counts = scala.collection.mutable.ArrayBuffer.empty[Int]
      while (out.length < maxNewTokens) {
        val (_, n, toks) = cycle(counts.length + 1)
        counts += n
        out ++= toks
        if (out.length < maxNewTokens) advance(toks)
      }
      (out.take(maxNewTokens).toSeq, counts.toSeq)
    }
  }

  /** The prompt-lookup draft (Saxena 2023, HF `prompt_lookup_num_
    * tokens`), the proposer of [[Spec.lookupWalk]] and
    * [[Spec.lookupSampledWalk]]: the EARLIEST earlier occurrence of the
    * final `ngram` wins, the pattern occurrence itself never matches
    * (`i < patStart`), and the draft slice clamps to `maxDraft`. */
  private def lookupDraft(full: scala.collection.IndexedSeq[Int],
      ngram: Int, maxDraft: Int): Array[Int] = {
    val L = full.length
    if (L <= ngram) return Array.emptyIntArray
    val patStart = L - ngram
    var matchAt = -1
    var i = 0
    while (matchAt < 0 && i < patStart) {
      var k = 0
      var eq = true
      while (eq && k < ngram) {
        if (full(i + k) != full(patStart + k)) eq = false else k += 1
      }
      if (eq) matchAt = i else i += 1
    }
    if (matchAt < 0) Array.emptyIntArray
    else Array.tabulate(
      math.min(maxDraft, L - matchAt - ngram))(k => full(matchAt + ngram + k))
  }

  /** The constrained beam-candidate expansion of [[beamSearch]] — one
    * live beam's candidate rows under the
    * full logit-constraint set, applied in the HF beam-search order:
    * constraints act on the per-beam LOG-SOFTMAX scores `lp` (the
    * full-vocab logsumexp is computed BEFORE any constraint, so the
    * neutral-knob scores are bit-identical to the unconstrained path);
    * SEEN tokens (anywhere in `full` = prompt/decoder-prefix +
    * generated) rescale `lp > 0 → lp/penalty else lp·penalty` (lp is a
    * log-prob, so the multiply arm always fires — the CASE keeps the
    * generateGreedy shape the oracle restates); static bans, banned-
    * phrase completions against `full`'s suffix, and eos-below-
    * `minNewTokens` are HARD (never candidates, never compete for
    * width slots); the no-repeat-n-gram ban LIFTS when it would empty
    * this beam's allowed set (q213's rule, evaluated PER BEAM). */
  private object Beams {
    def expand[B](lp: Array[Double], full: scala.collection.IndexedSeq[Int],
        genLen: Int, s0: Double, penLen: Double, bi: Int, ref: B,
        banned: Set[Int], repetitionPenalty: Double, noRepeatNgram: Int,
        bannedPhrases: Seq[Seq[Int]], eosId: Int, minNewTokens: Int)
        : scala.collection.immutable.IndexedSeq[(Double, Int, Int, Double, B)] = {
      val vocab = lp.length
      def completesPhrase(j: Int): Boolean =
        bannedPhrases.exists { ph =>
          ph.last == j && ph.length - 1 <= full.length &&
            full.takeRight(ph.length - 1) == ph.init
        }
      def hardBanned(j: Int): Boolean =
        banned.contains(j) || completesPhrase(j) ||
          (eosId >= 0 && j == eosId && genLen < minNewTokens)
      val ngBanned: Set[Int] =
        if (noRepeatNgram >= 2 && full.length >= noRepeatNgram - 1) {
          val n1 = noRepeatNgram - 1
          val suffix = full.takeRight(n1)
          (0 to full.length - noRepeatNgram).iterator.collect {
            case i if (0 until n1).forall(k => full(i + k) == suffix(k)) =>
              full(i + n1)
          }.toSet
        } else Set.empty
      val seen: Set[Int] =
        if (repetitionPenalty != 1.0) full.toSet else Set.empty
      val ngLive = (0 until vocab).exists(j => !hardBanned(j) && !ngBanned(j))
      (0 until vocab).collect {
        case tok if !hardBanned(tok) && !(ngLive && ngBanned(tok)) =>
          val l0 = lp(tok)
          val l =
            if (seen(tok)) {
              if (l0 > 0.0) l0 / repetitionPenalty
              else l0 * repetitionPenalty
            } else l0
          val raw = s0 + l
          (raw / penLen, bi, tok, raw, ref)
      }
    }
  }

  /** Output fields for [[Kernel]], nullable. */
  private def fields(cols: (String, DataType)*): Seq[StructField] =
    cols.map { case (n, t) => StructField(n, t) }
  private val Ints = ArrayType(IntegerType)
  // the column sets several decoders append
  private val SpecOut = fields("draft_tok" -> IntegerType, "accepted" -> BooleanType,
    "final_tok" -> IntegerType)
  private val GammaOut = fields("draft_toks" -> Ints, "n_accepted" -> IntegerType, "out_toks" -> Ints)
  private val LoopOut = fields("out_toks" -> Ints, "n_cycles" -> IntegerType,
    "n_acc_total" -> IntegerType)
  private val LookupOut = fields("draft_toks" -> Ints, "n_drafted" -> IntegerType,
    "n_accepted" -> IntegerType, "out_toks" -> Ints)
  private val TreeOut = fields("tree" -> ArrayType(Ints), "n_accepted" -> IntegerType,
    "out_toks" -> Ints)

  /** The greedy pick over the `vocab` logits at `off`: NaN never wins and
    * strict `>` keeps the first max. `allowed`, when given, masks the
    * candidates (banned ids, an eos before the minimum length). */
  private def argmaxFirst(out: Array[Float], vocab: Int, off: Int = 0,
      allowed: Int => Boolean = null): Int = {
    var best = -1
    var bv = Float.NaN
    var j = 0
    while (j < vocab) {
      val v = out(off + j)
      if ((allowed == null || allowed(j)) && !v.isNaN && (best < 0 || v > bv)) {
        best = j; bv = v
      }
      j += 1
    }
    require(best >= 0, "all-NaN logits")
    best
  }

  /** The KV-session decoders' model check: token ids in, a cacheable
    * session, no cross-attention. */
  private def requireTokenDecoder(model: Broadcast[TorchScriptModel], what: String): Unit = {
    val m = model.value
    require(m.inDim == -1, s"$what needs a token-input model")
    require(!m.isCross, s"$what: cross-attention model not supported")
    require(m.cacheable, s"$what needs the KV-session path (cacheable model)")
  }

  /** How a decoder's rows open their KV sessions, fixed and validated
    * once on the driver by [[kvPolicy]]: `srcIdx` is a cross model's
    * source-token column (−1: a single-sequence model); `nWindow > 0`
    * bounds every causal cache to `nSink` sinks + an `nWindow` window;
    * `relPos` re-rotates the bounded caches. [[openSession]] is the one
    * place the choice is acted on. */
  private final case class Kv(srcIdx: Int, nSink: Int, nWindow: Int, relPos: Boolean) {
    /** The row's source tokens; null for a single-sequence model, and
      * for a cross row whose source is null or empty. */
    def src(r: Row): Array[Int] = if (srcIdx < 0) null else Kernel.nonEmptyInts(r, srcIdx)
    /** False for a cross row without source tokens: it decodes to a
      * null row. */
    def hasSrc(src: Array[Int]): Boolean = srcIdx < 0 || src != null
  }

  /** Validates a decoder's models and KV knobs once and fixes its
    * [[Kv]]: the models take token ids and are cross-attention exactly
    * when `srcCol` names their source tokens; a cross model, a bounded
    * cache or a caller's `session` need the KV-session path (a
    * cacheable model); `nWindow > 0` needs `nSink >= 0`, and `relPos`
    * needs `nWindow > 0`. */
  private def kvPolicy(df: DataFrame, what: String, models: Seq[Broadcast[TorchScriptModel]],
      srcCol: String, nSink: Int = -1, nWindow: Int = -1, relPos: Boolean = false,
      session: Boolean = true): Kv = {
    require(nWindow <= 0 || nSink >= 0,
      "a bounded-KV decode needs nSink >= 0 alongside nWindow >= 1")
    require(!relPos || nWindow > 0,
      "relPos is a dial on the bounded-KV sessions (needs nWindow >= 1)")
    val cross = srcCol != null
    models.foreach { bm =>
      val m = bm.value
      require(m.inDim == -1, s"$what needs a token-input model")
      require(m.isCross == cross,
        if (cross) s"$what: srcCol needs a cross-attention model"
        else s"$what: a cross-attention model needs its source tokens as srcCol")
      require(m.cacheable || !(session || cross || nWindow > 0),
        s"$what needs the KV-session path (cacheable model)")
    }
    Kv(if (cross) df.schema.fieldIndex(srcCol) else -1, nSink, nWindow, relPos)
  }

  /** The green-list knobs: a bias `delta >= 0` at a green fraction
    * `num/den` strictly between 0 and 1. */
  private def requireWatermark(delta: Double, gamma: (Int, Int)): Unit = {
    require(delta >= 0.0, "watermarkDelta must be >= 0")
    require(gamma._1 >= 1 && gamma._1 < gamma._2,
      "watermarkGamma must be a fraction num/den with 0 < num < den")
  }

  /** The speculative decoders' model check: [[kvPolicy]] over the
    * target and the draft, which must share the vocabulary; a
    * deterministic tree's top-`branch` children must fit in it. */
  private def draftPair(df: DataFrame, what: String, target: Broadcast[TorchScriptModel],
      draft: Broadcast[TorchScriptModel], srcCol: String = null, nSink: Int = -1,
      nWindow: Int = -1, relPos: Boolean = false, branch: Int = 0): Kv = {
    val kv = kvPolicy(df, what, Seq(target, draft), srcCol, nSink, nWindow, relPos)
    require(target.value.outDim == draft.value.outDim, "draft and target must share the vocabulary")
    require(branch <= target.value.outDim, "branch exceeds the vocabulary")
    kv
  }

  /** The one decode-session opener: a row's session, plain, over the
    * cross model's `src`, bounded ([[TorchScriptModel.decodeSessionWindowed]])
    * or re-rotated ([[TorchScriptModel.decodeSessionRelPos]]) as `kv`
    * says. */
  private def openSession(m: TorchScriptModel, kv: Kv, p: Array[Int],
      src: Array[Int]): m.DecodeSession =
    if (kv.relPos) m.decodeSessionRelPos(p, kv.nSink, kv.nWindow, src)
    else if (kv.nWindow > 0) m.decodeSessionWindowed(p, kv.nSink, kv.nWindow, src)
    else m.decodeSession(p, src)

  /**
   * Programmatic equivalent of
   * `CREATE FUNCTION name(IN[]) RETURNS OUT[] LANGUAGE TORCH AS 'url'`
   * (reference src/lib.rs:23-100). Supported (input, return) item-type
   * combinations mirror the reference's dispatch (udf.rs:28-57):
   * (F32,F32), (F64,F32), (F64,F64) — anything else errors like
   * udf.rs:59-64. Divergence (documented): the reference's (F64,F64) arm
   * actually constructs an F32-returning UDF (udf.rs:49-57, a bug); we
   * implement the declared semantics and really return `array<double>`.
   *
   * The device/batch_size configuration is snapshotted NOW, mirroring
   * "function binds its device at creation time" (lib.rs:51-56, 81-84).
   */
  def createFunction(
      spark: SparkSession,
      name: String,
      url: String,
      inputType: DataType = FloatType,
      returnType: DataType = FloatType): TorchScriptModel = {
    // reject unsupported type combinations BEFORE the expensive model
    // load/broadcast (multi-MB parse + executor ship on the error path)
    val f64Return = (inputType, returnType) match {
      case (FloatType | DoubleType, FloatType) => false
      case (DoubleType, DoubleType) => true
      case other =>
        throw new UnsupportedOperationException(
          s"data type combination not supported: $other (supported: " +
            "(float,float), (double,float), (double,double))")
    }
    val conf = TorchConf.get(spark) // validates; binds at creation time
    require(conf.device == "cpu", s"device ${conf.device} not available")
    val model = TorchScriptModel.load(url)
    val bc = spark.sparkContext.broadcast(model)
    // The closures declare Seq[java.lang.Double] input: boxed, because
    // Spark's deserializer asserts NOT_NULL on primitive Seq[Double]
    // elements before the lambda even runs. Spark's analyzer will only
    // UP-cast UDF arguments (array<float> -> array<double> is implicit;
    // the reverse is refused under ANSI), so accepting double and
    // narrowing to f32 here reproduces the reference's implicit
    // list<f64> -> list<f32> coercion at the UDF boundary
    // (reference src/udf.rs:108-115) for both float and double columns.
    // Null contract: null array OR any null element -> null output.
    def toF32(xs: scala.collection.Seq[java.lang.Double]): Array[Float] = {
      if (xs == null) return null
      val in = new Array[Float](xs.length)
      var i = 0
      while (i < in.length) {
        val d = xs(i)
        if (d == null) return null
        in(i) = d.floatValue()
        i += 1
      }
      in
    }
    // token-input (embedding-head) models take a variable-length
    // token-id row; ids arrive through the same numeric-array UDF
    // boundary and are truncated to int for the lookup
    def toTokens(xs: scala.collection.Seq[java.lang.Double]): Array[Int] = {
      if (xs == null) return null
      val in = new Array[Int](xs.length)
      var i = 0
      while (i < in.length) {
        val d = xs(i)
        if (d == null) return null
        in(i) = d.intValue()
        i += 1
      }
      in
    }
    val tokenInput = model.inDim == -1
    def run(xs: scala.collection.Seq[java.lang.Double]): Array[Float] =
      if (tokenInput) {
        val t = toTokens(xs)
        if (t == null) null else bc.value.forwardTokens(t)
      } else {
        val in = toF32(xs)
        if (in == null) null else bc.value.forward(in)
      }
    // a TWO-INPUT (encoder-decoder cross-attention) archive registers
    // as a 2-ARG scalar function: f(decoder_tokens, source_tokens) —
    // null either side (or any null element) -> null output
    def run2(qs: scala.collection.Seq[java.lang.Double],
        ks: scala.collection.Seq[java.lang.Double]): Array[Float] = {
      val q = toTokens(qs)
      val k = toTokens(ks)
      if (q == null || k == null || q.isEmpty || k.isEmpty) null
      else bc.value.forwardTokensPair(q, k)
    }
    if (model.isCross) {
      if (f64Return)
        spark.udf.register(name, (qs: scala.collection.Seq[java.lang.Double],
            ks: scala.collection.Seq[java.lang.Double]) => {
          val out = run2(qs, ks)
          if (out == null) null else out.map(_.toDouble).toSeq
        })
      else
        spark.udf.register(name, (qs: scala.collection.Seq[java.lang.Double],
            ks: scala.collection.Seq[java.lang.Double]) => {
          val out = run2(qs, ks)
          if (out == null) null else out.toSeq
        })
    } else if (f64Return)
      spark.udf.register(name, (xs: scala.collection.Seq[java.lang.Double]) => {
        val out = run(xs)
        if (out == null) null else out.map(_.toDouble).toSeq
      })
    else
      spark.udf.register(name, (xs: scala.collection.Seq[java.lang.Double]) => {
        val out = run(xs)
        if (out == null) null else out.toSeq
      })
    model
  }

  /**
   * Batched inference: appends `outputCol: array<float>` computed by one
   * GEMM per `batchSize` input rows — the scale path that amortizes
   * per-call overhead exactly like the reference's batch loop
   * (reference src/udf.rs:191-222, 250-286; partial final batch
   * semantics per udf.rs:202-204). `batchSize <= 0` reads
   * `torchfusion.batch_size` from the session.
   *
   * Runs through [[graft.Kernel]]: streaming, no per-partition
   * materialization beyond one batch. A null token row, one with a null
   * id, and one shorter than the model's conv/pool kernels
   * ([[TorchScriptModel.minSeqTokens]]) yield null.
   */
  def inferBatched(
      df: DataFrame,
      inputCol: String,
      outputCol: String,
      model: Broadcast[TorchScriptModel],
      batchSize: Int = -1): DataFrame = {
    // token-input (embedding-head) models read int token ids; feature
    // models read f32 vectors (pixel models go through inferImageBatched)
    require(model.value.imageHead.isEmpty,
      "pixel-input model: use Torch.inferImageBatched")
    val tokenInput = model.value.inDim == -1
    val inIdx = df.schema.fieldIndex(inputCol)
    Kernel(df, fields(outputCol -> ArrayType(FloatType)),
        ints = if (tokenInput) Seq(inputCol) else Nil,
        floats = if (tokenInput) Nil else Seq(inputCol), batchSize = batchSize) { () =>
      val m = model.value
      val inDim = m.inDim
      val outDim = m.outDim
      val minLen = m.minSeqTokens
      // null inputs (null array or any null element) stay out of the
      // GEMM batch and yield null output; live rows take their
      // forward-pass slice in order (one shared assembly for both input
      // shapes)
      def emit(inputs: Seq[AnyRef], out: Array[Float]): Iterator[Any] = {
        var k = -1
        inputs.iterator.map { in =>
          if (in == null) null
          else {
            k += 1
            out.slice(k * outDim, (k + 1) * outDim).toSeq
          }
        }
      }
      rows =>
        if (tokenInput) {
          // variable-length token rows: pooling is per-row, the GEMM
          // batch is the pooled (n, embDim) matrix; a row too short for
          // the model's conv/pool kernels is null, like a null row
          val inputs = rows.map { r =>
            val a = Kernel.ints(r, inIdx)
            if (a != null && a.length < minLen) null else a
          }
          val live = inputs.filter(_ != null).toArray
          val out = if (live.nonEmpty) m.forwardTokensBatch(live) else Array.empty[Float]
          emit(inputs, out)
        } else {
          val inputs = rows.map(Kernel.floats(_, inIdx, inDim))
          val live = inputs.filter(_ != null)
          val n = live.size
          val flat = new Array[Float](n * inDim)
          var i = 0
          while (i < n) {
            System.arraycopy(live(i), 0, flat, i * inDim, inDim)
            i += 1
          }
          val out = if (n > 0) m.forwardBatch(flat, n) else Array.empty[Float]
          emit(inputs, out)
        }
    }
  }

  /**
   * Batched TWO-SEQUENCE inference for CROSS-ATTENTION models
   * (encoder-decoder: `queryCol` feeds the main/decoder-side token
   * sequence, `keyCol` the encoder leg whose output every
   * [[CrossAttnOp]] attends over). Appends `outputCol: array<float>`.
   * Same scan-side `mapPartitions` shape as [[inferBatched]] — weights
   * ride the broadcast once per executor, the per-row sequence phase
   * runs in the partition, the flat tail as one GEMM per batch; no
   * shuffle at any corpus size. Null inputs (either side, or any null
   * element, or an empty row) yield null output.
   */
  def inferPairBatched(
      df: DataFrame,
      queryCol: String,
      keyCol: String,
      outputCol: String,
      model: Broadcast[TorchScriptModel],
      batchSize: Int = -1): DataFrame = {
    require(model.value.isCross, "not a cross-attention model: use inferBatched")
    val qIdx = df.schema.fieldIndex(queryCol)
    val kIdx = df.schema.fieldIndex(keyCol)
    Kernel(df, fields(outputCol -> ArrayType(FloatType)),
        ints = Seq(queryCol, keyCol), batchSize = batchSize) { () =>
      val m = model.value
      val outDim = m.outDim
      rows =>
        val pairs = rows.map(r => (Kernel.nonEmptyInts(r, qIdx), Kernel.nonEmptyInts(r, kIdx)))
        val live = pairs.filter(p => p._1 != null && p._2 != null).toArray
        val out =
          if (live.nonEmpty)
            m.forwardTokensPairBatch(live.map(_._1), live.map(_._2))
          else Array.empty[Float]
        var k = -1
        pairs.iterator.map { case (q0, k0) =>
          if (q0 == null || k0 == null) null
          else {
            k += 1
            out.slice(k * outDim, (k + 1) * outDim).toSeq
          }
        }
    }
  }

  /**
   * Batched PIXEL-input inference (vision-classifier head): `inputCol`
   * is a BINARY column of channel-major u8 pixels — exactly what
   * [[graft.operators.Multimodal]]'s PixelDecoder/resizeImage emit —
   * normalized `v/255` (torchvision ToTensor's convention) into the
   * model's `(c, h, w)` input. The conv/pool phase runs per row, the
   * flat tail as one batched GEMM. Null or wrong-size payloads yield
   * null output (decode-failure rows survive the pipeline). Weights
   * ride the broadcast once per executor, like the other paths.
   */
  def inferImageBatched(
      df: DataFrame,
      inputCol: String,
      outputCol: String,
      model: Broadcast[TorchScriptModel],
      c: Int, h: Int, w: Int,
      batchSize: Int = -1): DataFrame = {
    require(model.value.imageHead.isDefined, "not a pixel-input model")
    val inIdx = df.schema.fieldIndex(inputCol)
    Kernel(df, fields(outputCol -> ArrayType(FloatType)), batchSize = batchSize) { () =>
      val m = model.value
      val outDim = m.outDim
      rows =>
        def pixels(r: Row): Array[Float] = {
          if (r.isNullAt(inIdx)) return null
          val bytes = r.getAs[Array[Byte]](inIdx)
          if (bytes == null || bytes.length != c * h * w) return null
          val a = new Array[Float](bytes.length)
          var j = 0
          while (j < a.length) { a(j) = ((bytes(j) & 0xff) / 255.0).toFloat; j += 1 }
          a
        }
        val inputs = rows.map(pixels)
        val live = inputs.filter(_ != null).toArray
        val out = if (live.nonEmpty) m.forwardImageBatch(live, c, h, w) else Array.empty[Float]
        var k = -1
        inputs.iterator.map { in =>
          if (in == null) null
          else {
            k += 1
            out.slice(k * outDim, (k + 1) * outDim).toSeq
          }
        }
    }
  }

  /**
   * Batched language-model perplexity scoring (the CCNet-style quality
   * filter): `inputCol` is an `array<int>` token-id column; appends
   * `outputCol: double` = the model's mean next-token NLL under teacher
   * forcing ([[TorchScriptModel.lmMeanNll]] — exp of it is the
   * perplexity). Rows with a null input, a null element, or fewer than
   * 2 tokens (no prediction to score) yield null. Stateless scan-side
   * projection over the broadcast weights — the same one-plan
   * [[graft.Kernel]] shape as [[inferBatched]], so it runs unchanged on
   * a streaming frame and shuffles nothing at any corpus size.
   */
  def scoreLmBatched(
      df: DataFrame,
      inputCol: String,
      outputCol: String,
      model: Broadcast[TorchScriptModel]): DataFrame = {
    val inIdx = df.schema.fieldIndex(inputCol)
    Kernel(df, fields(outputCol -> DoubleType), ints = Seq(inputCol)) { () =>
      val m = model.value
      _.iterator.map { r =>
        val toks = Kernel.ints(r, inIdx)
        if (toks == null || toks.length < 2) null
        else m.lmMeanNll(toks)
      }
    }
  }

  /**
   * Batched seq2seq quality scoring — appends `outputCol: double` =
   * [[TorchScriptModel.seq2seqMeanNll]] (teacher-forced mean
   * next-token NLL of the decoder tokens given the source), the
   * parallel-corpus noisy-pair filter. Rows with a null input, a null
   * element, or fewer than 2 decoder tokens yield null. Stateless
   * scan-side [[graft.Kernel]] over broadcast weights — the
   * [[scoreLmBatched]] shape, shuffle-free at any corpus size.
   */
  def scoreSeq2SeqBatched(
      df: DataFrame,
      queryCol: String,
      keyCol: String,
      outputCol: String,
      model: Broadcast[TorchScriptModel]): DataFrame = {
    val qIdx = df.schema.fieldIndex(queryCol)
    val kIdx = df.schema.fieldIndex(keyCol)
    Kernel(df, fields(outputCol -> DoubleType), ints = Seq(queryCol, keyCol)) { () =>
      val m = model.value
      _.iterator.map { r =>
        val d = Kernel.ints(r, qIdx)
        val k = Kernel.ints(r, kIdx)
        if (d == null || k == null || d.length < 2 || k.isEmpty) null
        else m.seq2seqMeanNll(d, k)
      }
    }
  }

  /**
   * Beam-search decoding — `steps` rounds of (forward pass on every
   * live beam → per-beam log-softmax → joint-score expansion → keep
   * the top `width`). Scores are f64 log-probs accumulated from the
   * f32 logits (`lp = logit − logsumexp`), candidates order by
   * (joint score DESC, parent-beam rank ASC, token ASC) — a total
   * order both engines can restate, so beam identity never hinges on
   * hash-map luck; the numeric margins get a spec-pinned floor like
   * every argmax in this repo.
   *
   * Scale shape: ALL beams of ALL rows in a GEMM batch run through
   * ONE `forwardTokensBatch` per step inside one `mapPartitions` —
   * rows×width sequences per call, no per-step plan growth.
   *
   * `eosId`/`lengthPenalty` add the VARIABLE-LENGTH hypothesis rules
   * (the GNMT/T5 inference defaults): a beam whose kept token is
   * `eosId` is COMPLETE — it stops expanding and competes for width
   * slots as its own single candidate (tie-break token −1) — and every
   * candidate ranks by `raw / len^α` (`StrictMath.pow`; α = 0.5 hits
   * fdlibm's exact `sqrt` arm), the length normalization that decides
   * which beam wins once lengths diverge. Defaults (α = 0, eos −1)
   * reduce BIT-EXACTLY to raw joint ranking: `pow(len, 0) = 1` and
   * `raw / 1.0 == raw` (spec-pinned). The knobs require the KV-session
   * path (cacheable models — the serving shapes).
   *
   * The constraint knobs act on each beam's log-softmax scores
   * ([[Beams.expand]]), the watermark on the raw logits before it,
   * shallow fusion (`lmWeight`) after it; fusion and the watermark
   * compose with each other and eos/length penalty, not with the
   * constraint knobs.
   *
   * @param srcCol a cross model's source tokens (see
   *        [[generateGreedy]]); beams fork the cross session
   * @return input columns + `outCol` = array<array<int>>: the kept
   *         beams' generated tokens in rank order (a completed beam's
   *         array ends at its eos; null input → null)
   */
  def beamSearch(
      df: DataFrame,
      inputCol: String,
      outCol: String,
      model: Broadcast[TorchScriptModel],
      steps: Int,
      width: Int,
      batchSize: Int = -1,
      lengthPenalty: Double = 0.0,
      eosId: Int = -1,
      banned: Set[Int] = Set.empty,
      repetitionPenalty: Double = 1.0,
      noRepeatNgram: Int = 0,
      bannedPhrases: Seq[Seq[Int]] = Nil,
      minNewTokens: Int = 0,
      watermarkDelta: Double = 0.0,
      watermarkGamma: (Int, Int) = (1, 2),
      lmWeight: Double = 0.0,
      lmCounts: Array[Array[Long]] = null,
      srcCol: String = null): DataFrame = {
    require(steps >= 1 && width >= 1, "steps and width must be >= 1")
    requireWatermark(watermarkDelta, watermarkGamma)
    require(lmWeight >= 0.0, "lmWeight must be >= 0")
    val spark = df.sparkSession
    val kv = kvPolicy(df, "beamSearch", Seq(model), srcCol, session = false)
    require(width <= model.value.outDim, "width exceeds the vocabulary")
    require(lengthPenalty >= 0.0, "lengthPenalty must be >= 0")
    require(eosId < model.value.outDim, "eosId exceeds the vocabulary")
    require(banned.size < model.value.outDim,
      "banned set covers the whole vocabulary")
    require(repetitionPenalty > 0.0, "repetitionPenalty must be > 0")
    require(noRepeatNgram == 0 || noRepeatNgram >= 2,
      "noRepeatNgram must be 0 (off) or >= 2")
    require(bannedPhrases.forall(_.nonEmpty), "empty banned phrase")
    require(minNewTokens >= 0, "minNewTokens must be >= 0")
    require(minNewTokens == 0 || eosId >= 0,
      "minNewTokens needs an eosId to suppress")
    val plainKnobs = banned.isEmpty && repetitionPenalty == 1.0 &&
      noRepeatNgram == 0 && bannedPhrases.isEmpty && minNewTokens == 0
    require((plainKnobs && lengthPenalty == 0.0 && eosId < 0 &&
      watermarkDelta == 0.0) || model.value.cacheable,
      "lengthPenalty/eosId/constraint/watermark knobs need the KV-session " +
        "path (cacheable model)")
    // the watermark BIASES the raw logits before the per-beam
    // log-softmax (the Kirchenbauer deployment order — the lse itself
    // shifts), which the logit-processor constraint chain does not
    // model; composing them is out of scope (length penalty and eos
    // compose fine — they act on the biased scores downstream)
    require(watermarkDelta == 0.0 || plainKnobs,
      "watermarkDelta does not compose with the constraint knobs")
    // SHALLOW FUSION under beams (Gulcehre et al. 2015 — where
    // production LM fusion actually rides): each live candidate's
    // log-softmax score gains `lmWeight · ln p_LM(tok | prev)` from
    // the frozen add-one bigram prior ([[generateGreedy]]'s fused
    // term, prev = the beam's OWN last token), and the fused
    // value accumulates into the running joint — so the prior steers
    // both ranking and which hypotheses survive. Composes with
    // lengthPenalty/eos (downstream normalizations of the fused raw)
    // AND with the watermark (the bias acts pre-lse on the logits,
    // the prior post-lse on the scores — independent slots, the
    // watermarked-fused serving stack); the constraint chain is out
    // of scope.
    require(lmWeight == 0.0 || (plainKnobs && model.value.cacheable),
      "lmWeight needs the KV path and does not compose with the " +
        "constraint knobs")
    val vocabN = model.value.outDim
    require(lmWeight == 0.0 || (lmCounts != null &&
      lmCounts.length == vocabN && lmCounts.forall(_.length == vocabN)),
      "lmCounts must be vocab x vocab when lmWeight > 0")
    // frozen-ingest broadcast convention (see generateGreedy)
    val bcLm: Broadcast[(Array[Array[Long]], Array[Long])] =
      if (lmWeight == 0.0) null
      else spark.sparkContext.broadcast((lmCounts, lmCounts.map(_.sum)))
    val inIdx = df.schema.fieldIndex(inputCol)
    Kernel(df, fields(outCol -> ArrayType(Ints)),
        ints = Seq(inputCol), batchSize = batchSize) { () =>
      val m = model.value
      val vocab = m.outDim
      val lm = if (bcLm == null) null else bcLm.value
      // the fused prior term: lmWeight · ln((cnt+1)/(rowSum+V)) —
      // generateGreedy's exact f64 expression, 0 when fusion is off
      // (guarded so the unfused path stays bit-exact)
      def fused(prev: Int, tok: Int): Double =
        lmWeight * StrictMath.log(
          (lm._1(prev)(tok) + 1L).toDouble /
            (lm._2(prev) + vocab.toLong).toDouble)
      def logProbs(out: Array[Float], off: Int): Array[Double] =
        logSoftmax(Array.tabulate(vocab)(j => out(off + j).toDouble))
      // watermarked scores: green logits (membership keyed on the
      // BEAM's last token) gain +delta BEFORE the log-softmax — the
      // lse shifts with the bias, exactly the greedy watermark's
      // deployment order lifted to per-beam distributions. The
      // guarded delta = 0 call path keeps the unwatermarked beams
      // bit-exact.
      def logProbsBiased(out: Array[Float], prev: Int): Array[Double] =
        logSoftmax(Array.tabulate(vocab) { j =>
          if (Sampling.greenToken(prev, j, watermarkGamma._1, watermarkGamma._2))
            out(j).toDouble + watermarkDelta
          else out(j).toDouble
        })
      rows =>
        if (m.cacheable) {
          // KV-cache beams: each beam owns a decode session; expansion
          // FORKS the parent (O(L) pointer copy, no prompt replay).
          // Logits are bit-identical to the recompute path, so beam
          // identity and ranking are unchanged (TorchGenerateSpec).
          // Beam state: (generated, RAW joint log-prob, session, done).
          rows.iterator.map { r =>
            val src = kv.src(r)
            val p = if (kv.hasSrc(src)) Kernel.nonEmptyInts(r, inIdx) else null
            if (p == null) null
            else {
              var beams: Seq[(Vector[Int], Double, m.DecodeSession, Boolean)] =
                Seq((Vector.empty[Int], 0.0, openSession(m, kv, p, src), false))
              var t = 0
              while (t < steps && beams.exists(!_._4)) {
                // candidates = (norm, parent rank, token, raw, parent):
                // live beams expand over the vocab at length+1; a
                // COMPLETED beam is its own single candidate (token −1,
                // its frozen raw score over its own length) competing
                // for a width slot — the GNMT completed-hypothesis rule
                val cands = beams.zipWithIndex.flatMap {
                  case ((g, s0, sess, true), bi) =>
                    Seq((s0 / StrictMath.pow(g.length.toDouble, lengthPenalty),
                      bi, -1, s0, (g, s0, sess, true)))
                  case ((g, s0, sess, false), bi) =>
                    val lp =
                      if (watermarkDelta == 0.0) logProbs(sess.logits(), 0)
                      else logProbsBiased(sess.logits(),
                        if (g.nonEmpty) g.last else p.last)
                    val pen =
                      StrictMath.pow((g.length + 1).toDouble, lengthPenalty)
                    if (plainKnobs)
                      (0 until vocab).map { tok =>
                        val raw =
                          if (lmWeight == 0.0) s0 + lp(tok)
                          else s0 + lp(tok) +
                            fused(if (g.nonEmpty) g.last else p.last, tok)
                        (raw / pen, bi, tok, raw, (g, s0, sess, false))
                      }
                    else {
                      // the HF beam processor order: constraints apply
                      // to the per-beam LOG-SOFTMAX scores (the full-
                      // vocab lse above is untouched — bit-identical
                      // to the unconstrained path); hard-banned
                      // candidates never compete for width slots, the
                      // n-gram ban LIFTS when it would empty this
                      // beam's allowed set (q213's rule, per beam)
                      val full = scala.collection.immutable.ArraySeq
                        .unsafeWrapArray(p) ++ g
                      Beams.expand(lp, full, g.length, s0, pen, bi,
                        (g, s0, sess, false), banned, repetitionPenalty,
                        noRepeatNgram, bannedPhrases, eosId, minNewTokens)
                    }
                }
                require(cands.nonEmpty,
                  "no decodable candidate: hard bans emptied every live " +
                    "beam's vocabulary")
                beams = cands.sortBy { case (n, bi, tok, _, _) => (-n, bi, tok) }
                  .take(width)
                  .map {
                    case (_, _, -1, _, b) => b // a kept completed beam
                    case (_, _, tok, raw, (g, _, sess, _)) =>
                      if (tok == eosId)
                        // complete: the session is never read again —
                        // skip the fork, keep the frozen raw score
                        (g :+ tok, raw, sess, true)
                      else {
                        val child = sess.fork()
                        child.append(tok)
                        (g :+ tok, raw, child, false)
                      }
                  }
                t += 1
              }
              beams.map(_._1.toSeq)
            }
          }
        } else {
          // no-cache batch path: every live beam of every row rides
          // ONE forwardTokensBatch per step
          val prompts: Array[Array[Int]] = rows.map(Kernel.nonEmptyInts(_, inIdx)).toArray
          // per row: ranked beams as (generated tokens, score)
          var beams: Array[Seq[(Vector[Int], Double)]] = prompts.map { p =>
            if (p == null) null else Seq((Vector.empty[Int], 0.0))
          }
          var t = 0
          while (t < steps) {
          // flatten (row, beamRank) -> sequence for ONE batch forward
          val idx = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
          val seqs = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
          beams.zipWithIndex.foreach { case (bms, ri) =>
            if (bms != null) bms.zipWithIndex.foreach { case ((g, _), bi) =>
              idx += ((ri, bi))
              seqs += (prompts(ri) ++ g)
            }
          }
          if (seqs.nonEmpty) {
            val out = m.forwardTokensBatch(seqs.toArray)
            val lpByKey = idx.zipWithIndex.map { case (k, i) =>
              k -> logProbs(out, i * vocab)
            }.toMap
            beams = beams.zipWithIndex.map { case (bms, ri) =>
              if (bms == null) null
              else {
                val cands = bms.zipWithIndex.flatMap { case ((g, s), bi) =>
                  val lp = lpByKey((ri, bi))
                  (0 until vocab).map(tok => (s + lp(tok), bi, tok, g))
                }
                // total order: score DESC, parent rank ASC, token ASC
                cands.sortBy { case (sc, bi, tok, _) => (-sc, bi, tok) }
                  .take(width)
                  .map { case (sc, _, tok, g) => (g :+ tok, sc) }
              }
            }
          }
            t += 1
          }
          beams.indices.iterator.map { ri =>
            if (beams(ri) == null) null
            else beams(ri).map(_._1.toSeq)
          }
        }
    }
  }

  /**
   * DIVERSE BEAM SEARCH (Vijayakumar et al. 2018 — HF
   * `num_beam_groups` + `diversity_penalty`, the
   * HammingDiversityLogitsProcessor): `groups` beam frontiers of
   * `width` each decode SEQUENTIALLY within a step; group g's
   * candidate log-softmax scores subtract `diversityPenalty ×
   * count(token among the tokens groups 0..g-1 SELECTED at this
   * step)` BEFORE ranking, and the penalized value accumulates into
   * the kept beam's running score (HF semantics — the processor
   * rewrites the scores the scorer accumulates, so a diverse pick
   * carries its penalty forever). Groups never see each other's
   * scores, only each other's CHOSEN tokens, so group 0 is
   * bit-identical to plain [[beamSearch]](width) at ANY penalty
   * (spec-pinned), and `diversityPenalty = 0` makes every group
   * identical to it.
   *
   * Determinism: the penalty is `dyadic λ × integer count` (exact
   * f64), ranking is the repo beam order (adjusted joint DESC,
   * parent rank ASC, token ASC).
   *
   * COMPOSES with [[beamSearch]]'s completed-beam machinery (round
   * 17, VERDICT r16 item 3 — HF ships group beam search with eos +
   * length penalty by default): within each group, a beam that picks
   * `eosId` FREEZES (its session is never read again, its penalized
   * running score is frozen) and thereafter competes for its group's
   * width slots as its own single candidate at `raw / len^alpha`
   * over its OWN length, while live expansions rank at
   * `(raw + adj) / (len+1)^alpha` — the GNMT rule q214 pins, group-
   * local. Frozen beams select no token, so they contribute NOTHING
   * to later groups' same-step diversity counts; a beam completing
   * THIS step counts its eos selection like any other pick. With
   * `lengthPenalty = 0 ∧ eosId = -1` every norm is the raw joint and
   * nothing freezes — bit-exact to the pre-knob behavior
   * (spec-pinned), and group 0 stays bit-identical to plain
   * [[beamSearch]] under the SAME knobs at any penalty.
   *
   * Scale shape: per-row KV sessions with `fork()` inside ONE
   * `mapPartitions` — groups×width sessions per row, O(L·d) per
   * step, no per-step plan growth.
   *
   * @return input columns + `outCol` = array of groups×width beams
   *         (group-major: g0's beams ranked, then g1's, ...), each an
   *         array<int> of generated tokens (a completed beam's array
   *         ends at its eos)
   */
  def beamSearchDiverse(
      df: DataFrame,
      inputCol: String,
      outCol: String,
      model: Broadcast[TorchScriptModel],
      steps: Int,
      width: Int,
      groups: Int,
      diversityPenalty: Double,
      batchSize: Int = -1,
      lengthPenalty: Double = 0.0,
      eosId: Int = -1,
      watermarkDelta: Double = 0.0,
      watermarkGamma: (Int, Int) = (1, 2),
      lmWeight: Double = 0.0,
      lmCounts: Array[Array[Long]] = null): DataFrame = {
    require(steps >= 1 && width >= 1, "steps and width must be >= 1")
    require(groups >= 1, "groups must be >= 1")
    require(diversityPenalty >= 0.0, "diversityPenalty must be >= 0")
    require(lengthPenalty >= 0.0, "lengthPenalty must be >= 0")
    require(eosId < model.value.outDim, "eosId exceeds the vocabulary")
    // SHALLOW FUSION under diverse groups (the last cell of the
    // bias × decode-family matrix): the frozen bigram prior adds to
    // each live candidate's log-softmax ALONGSIDE the Hamming
    // penalty — both post-lse score adjustments on the same
    // accumulated value, `s0 + (lp − λdiv·cnt + λlm·ln p_LM)` — so
    // group 0 stays bit-identical to FUSED plain beamSearch and
    // lmWeight = 0 to the unfused diverse path (guarded; both
    // spec-pinned).
    require(lmWeight >= 0.0, "lmWeight must be >= 0")
    val vocabN = model.value.outDim
    require(lmWeight == 0.0 || (lmCounts != null &&
      lmCounts.length == vocabN && lmCounts.forall(_.length == vocabN)),
      "lmCounts must be vocab x vocab when lmWeight > 0")
    val bcLm: Broadcast[(Array[Array[Long]], Array[Long])] =
      if (lmWeight == 0.0) null
      else df.sparkSession.sparkContext.broadcast(
        (lmCounts, lmCounts.map(_.sum)))
    // the WATERMARK under diverse groups (round 18 — deployments
    // watermark whatever decode they run): each live beam's raw
    // logits gain +delta on the green set keyed by ITS OWN last
    // token BEFORE the per-group log-softmax (beamSearch's exact
    // logProbsBiased order); the Hamming diversity penalty then
    // subtracts from the BIASED log-softmax downstream, so group 0
    // stays bit-identical to watermarked plain beamSearch and
    // delta = 0 reduces bit-exactly to the unwatermarked path (the
    // guarded branch; both spec-pinned).
    requireWatermark(watermarkDelta, watermarkGamma)
    requireTokenDecoder(model, "beamSearchDiverse")
    require(width <= model.value.outDim, "width exceeds the vocabulary")
    val inIdx = df.schema.fieldIndex(inputCol)
    Kernel(df, fields(outCol -> ArrayType(Ints)),
        ints = Seq(inputCol), batchSize = batchSize) { () =>
      val m = model.value
      val vocab = m.outDim
      val lm = if (bcLm == null) null else bcLm.value
      // generateGreedy's exact f64 fused prior term (0-guarded)
      def fused(prev: Int, tok: Int): Double =
        lmWeight * StrictMath.log(
          (lm._1(prev)(tok) + 1L).toDouble /
            (lm._2(prev) + vocab.toLong).toDouble)
      def logProbs(out: Array[Float]): Array[Double] =
        logSoftmax(Array.tabulate(vocab)(j => out(j).toDouble))
      // beamSearch's logProbsBiased verbatim: green logits (keyed on
      // the beam's last token) gain +delta BEFORE the log-softmax
      def logProbsBiased(out: Array[Float], prev: Int): Array[Double] =
        logSoftmax(Array.tabulate(vocab) { j =>
          if (Sampling.greenToken(prev, j, watermarkGamma._1, watermarkGamma._2))
            out(j).toDouble + watermarkDelta
          else out(j).toDouble
        })
      rows =>
        rows.iterator.map { r =>
          val p: Array[Int] = Kernel.nonEmptyInts(r, inIdx)
          if (p == null) null
          else {
            // per group: ranked beams (generated, running score,
            // session, done) — done beams' sessions are never read
            val frontiers = Array.fill(groups)(
              Seq((Vector.empty[Int], 0.0, m.decodeSession(p), false)))
            var t = 0
            while (t < steps) {
              // tokens selected at THIS step by earlier groups
              // (frozen keeps select nothing)
              val stepCounts = new Array[Int](vocab)
              var g = 0
              while (g < groups) {
                // candidates = (norm, parent rank, token, raw, parent):
                // the beamSearch candidate shape — a completed beam is
                // its own single candidate (token -1, frozen raw over
                // its OWN length) competing for a width slot
                val cands = frontiers(g).zipWithIndex.flatMap {
                  case ((gen, s0, sess, true), bi) =>
                    Seq((s0 / StrictMath.pow(gen.length.toDouble, lengthPenalty),
                      bi, -1, s0, (gen, s0, sess, true)))
                  case ((gen, s0, sess, false), bi) =>
                    val lp =
                      if (watermarkDelta == 0.0) logProbs(sess.logits())
                      else logProbsBiased(sess.logits(),
                        if (gen.nonEmpty) gen.last else p.last)
                    val pen =
                      StrictMath.pow((gen.length + 1).toDouble, lengthPenalty)
                    (0 until vocab).map { tok =>
                      // f64 order pinned: (s0 + (lp − λ·cnt)) + fused
                      // — the pre-knob accumulation plus a TRAILING
                      // fused term, so q236 stays bit-exact at
                      // lmWeight = 0 (guarded) AND group 0 (cnt = 0,
                      // lp − 0.0 ≡ lp) reproduces fused plain
                      // beamSearch's (s0 + lp) + fused association
                      // bit-for-bit
                      val adj = lp(tok) - diversityPenalty * stepCounts(tok)
                      val raw0 = s0 + adj
                      val raw =
                        if (lmWeight == 0.0) raw0
                        else raw0 +
                          fused(if (gen.nonEmpty) gen.last else p.last, tok)
                      (raw / pen, bi, tok, raw, (gen, s0, sess, false))
                    }
                }
                frontiers(g) = cands
                  .sortBy { case (norm, bi, tok, _, _) => (-norm, bi, tok) }
                  .take(width)
                  .map {
                    case (_, _, -1, _, b) => b // a kept completed beam
                    case (_, _, tok, raw, (gen, _, sess, _)) =>
                      if (tok == eosId) {
                        // complete: freeze the penalized raw, count
                        // the eos selection below, never fork
                        stepCounts(tok) += 1
                        (gen :+ tok, raw, sess, true)
                      } else {
                        stepCounts(tok) += 1
                        val child = sess.fork()
                        child.append(tok)
                        (gen :+ tok, raw, child, false)
                      }
                  }
                g += 1
              }
              t += 1
            }
            frontiers.toSeq.flatMap(_.map(_._1.toSeq))
          }
        }
    }
  }

  /**
   * STOCHASTIC speculative sampling — the actual
   * Leviathan/Chen 2023 acceptance rule (q212's greedy speculative
   * decode verifies argmax equivalence; THIS is the
   * distribution-preserving sampled form): the draft model SAMPLES a
   * token `x ~ q`, the target accepts it with probability
   * `min(1, p(x)/q(x))`, and on rejection resamples from the
   * normalized residual `max(0, p − q)` — the composition provably
   * equal in distribution to sampling from the target alone.
   *
   * Determinism discipline: p and q are full-vocab softmaxes
   * quantized to the 6dp grid; the three random choices are
   * independent md5 draws (`"<id>:spec:d1"` the draft pick,
   * `":spec:a1"` the acceptance, `":spec:r1"` the residual pick) on
   * the 1e-6 grid; the acceptance ratio re-quantizes to 6dp before
   * the strict `u < r` compare; residual masses are exact grid
   * differences and the resample walks (r DESC, tid) with the
   * engine's order-defined renormalized cumulative. An all-zero
   * residual (p == q on the grid) keeps the draft token.
   *
   * It is [[speculativeSampledMultiDraft]]'s level at one draft.
   * Scale shape: two KV sessions per row (draft + target prefix),
   * one step each, inside ONE `mapPartitions`.
   *
   * @param srcCol cross (encoder-decoder) models' source tokens: both
   *        sessions open against the row's fixed source encoding (the
   *        encoder leg runs once per session). A null or empty source
   *        gives a null row. Null: single-sequence models.
   * @return input columns + `draft_tok` int, `accepted` boolean,
   *         `final_tok` int (null prompt or id → all null)
   */
  def speculativeSampled(
      df: DataFrame,
      idCol: String,
      inputCol: String,
      target: Broadcast[TorchScriptModel],
      draft: Broadcast[TorchScriptModel],
      batchSize: Int = -1,
      srcCol: String = null): DataFrame = {
    val kv = draftPair(df, "speculativeSampled", target, draft, srcCol)
    val inIdx = df.schema.fieldIndex(inputCol)
    val idIdx = df.schema.fieldIndex(idCol)
    Kernel(df, SpecOut, ints = Seq(inputCol) ++ Option(srcCol), batchSize = batchSize) { () =>
      val tm = target.value
      val dm = draft.value
      val vocab = tm.outDim
      rows =>
        rows.iterator.map { r =>
          val src = kv.src(r)
          val p: Array[Int] =
            if (r.isNullAt(idIdx) || !kv.hasSrc(src)) null else Kernel.nonEmptyInts(r, inIdx)
          if (p == null) null
          else {
            val id = r.getAs[Number](idIdx).longValue()
            // one draft: the multi-draft level at b = 1
            val (drafts, acc, tok) = Spec.level(Spec.probs6(openSession(dm, kv, p, src).logits(), vocab),
              openSession(tm, kv, p, src), 1, vocab, id, 0)
            (drafts(0), acc == 1, tok)
          }
        }
    }
  }

  /**
   * MULTI-TOKEN stochastic speculative sampling (the full
   * Leviathan 2023 / Chen et al. 2023 serving recipe, gamma >= 1 —
   * [[speculativeSampled]] is its gamma = 1 head): per cycle the
   * draft model autoregressively SAMPLES `gamma` tokens
   * `x_1..x_g ~ q`, the target evaluates all `gamma + 1` prefix
   * distributions (one KV-session append per draft token — the
   * batched-verification position walk), and the prefix-acceptance
   * rule walks the drafts in order: accept `x_i` with probability
   * `min(1, p_i(x_i)/q_i(x_i))`; at the FIRST rejection resample
   * from the normalized residual `max(0, p_i − q_i)` and STOP; if
   * every draft is accepted, emit ONE bonus token sampled from the
   * target's distribution at the fully-drafted prefix. The emitted
   * `n_accepted (+1)` tokens are provably distributed exactly as
   * `n_accepted + 1` tokens sampled from the target alone — the
   * speedup is `n_accepted + 1` target-distributed tokens for one
   * drafting pass + one (sessionized) verification pass.
   *
   * Determinism discipline is [[speculativeSampled]]'s verbatim: all
   * distributions are 6dp-quantized full-vocab softmaxes; draws are
   * independent md5 draws on the 1e-6 grid with POSITION-INDEXED
   * salts — draft pick i = `"d<i>"`, acceptance i = `"a<i>"`,
   * residual i = `"r<i>"`, bonus = `"b1"` — so `gamma = 1` replays
   * q247's exact draws (spec-pinned: same draft token, same
   * acceptance, same correction). An all-zero residual (p == q on
   * the grid) keeps the rejected draft token. An identity draft
   * (draft eq target) accepts every position by construction
   * (ratio quantizes to 1, draws are < 1) — spec-pinned.
   *
   * Scale shape: two KV sessions per row (draft + target), gamma
   * appends each, inside ONE `mapPartitions` — O(gamma·L·d) per row,
   * no shuffle at any corpus size. The cycle is [[Spec.cycle]]'s
   * cycle 1.
   *
   * @param srcCol cross models' source tokens (see
   *        [[speculativeSampled]]); null: single-sequence models
   * @return input columns + `draft_toks` array<int> (the gamma
   *         drafts), `n_accepted` int, `out_toks` array<int> (the
   *         accepted prefix + correction-or-bonus; length
   *         `n_accepted + 1`); null prompt/id → all null
   */
  def speculativeSampledGamma(
      df: DataFrame,
      idCol: String,
      inputCol: String,
      target: Broadcast[TorchScriptModel],
      draft: Broadcast[TorchScriptModel],
      gamma: Int,
      batchSize: Int = -1,
      watermarkDelta: Double = 0.0,
      watermarkGamma: (Int, Int) = (1, 2),
      srcCol: String = null): DataFrame = {
    require(gamma >= 1, "gamma must be >= 1")
    // WATERMARK × SPECULATIVE (Kirchenbauer 2023 × Leviathan 2023):
    // the green-list bias +delta lands on the TARGET's raw logits
    // before each of its gamma+1 prefix softmaxes (green membership
    // keyed on the prefix's last token — prompt tail for p_1, draft
    // i for p_{i+1}; q239's deployment order). The acceptance/
    // residual rule preserves WHATEVER target distribution it is
    // given, so the emitted tokens are provably watermarked-target
    // distributed while the (watermark-oblivious) draft stays
    // unbiased — exactly the deployment where a serving stack both
    // watermarks and draft-accelerates. delta = 0 keeps the
    // unwatermarked code path bit-exactly (guarded branch;
    // spec-pinned).
    requireWatermark(watermarkDelta, watermarkGamma)
    val kv = draftPair(df, "speculativeSampledGamma", target, draft, srcCol)
    val inIdx = df.schema.fieldIndex(inputCol)
    val idIdx = df.schema.fieldIndex(idCol)
    val (wmNum, wmDen) = watermarkGamma
    Kernel(df, GammaOut, ints = Seq(inputCol) ++ Option(srcCol), batchSize = batchSize) { () =>
      val tm = target.value
      val dm = draft.value
      val vocab = tm.outDim
      rows =>
        rows.iterator.map { r =>
          val src = kv.src(r)
          val p: Array[Int] =
            if (r.isNullAt(idIdx) || !kv.hasSrc(src)) null else Kernel.nonEmptyInts(r, inIdx)
          if (p == null) null
          else {
            val id = r.getAs[Number](idIdx).longValue()
            val (drafts, n, out) = Spec.cycle(openSession(dm, kv, p, src),
              openSession(tm, kv, p, src), p(p.length - 1), gamma, vocab, id, 1,
              watermarkDelta, wmNum, wmDen)
            (drafts.toSeq, n, out)
          }
        }
    }
  }

  /**
   * The speculative SERVING LOOP — [[speculativeSampledGamma]] cycled
   * until `maxNewTokens` tokens are emitted (then truncated), the
   * shape a draft-accelerated inference server actually runs: each
   * cycle drafts gamma tokens, verifies them against the target's
   * prefix distributions, emits accepted run + correction-or-bonus,
   * and rolls both KV sessions forward to the emitted prefix before
   * the next cycle: each cycle VERIFIES on forks, so rejected drafts
   * never touch the accepted-prefix sessions, which take only the
   * EMITTED tokens (O(E) appends — no prompt replay, no un-append).
   * The cycles run through [[Spec.serve]].
   *
   * Draw discipline: salts are GLOBAL position indices — cycle c
   * draft i uses `"d<(c−1)·gamma + i>"` (likewise a/r), bonus
   * `"b<c>"` — so cycle 1 replays [[speculativeSampledGamma]]'s
   * exact draws (spec-pinned: the loop's first cycle IS q249), and
   * a row's draws are independent of partition layout and of OTHER
   * rows, like every sampler here. A cycle always runs to
   * completion (full gamma-draft + walk) even when it overshoots
   * `maxNewTokens` — the server truncates output, not the cycle —
   * so emitted prefixes are cycle-deterministic.
   *
   * @return input columns + `out_toks` array<int> (exactly
   *         maxNewTokens tokens), `n_cycles` int, `n_acc_total` int
   *         (accepted drafts across all cycles — the serving
   *         acceptance-rate telemetry; CYCLE-LEVEL, i.e. the final
   *         cycle's accepted run counts in full even when the emitted
   *         output truncates to maxNewTokens, so gamma = 2 with
   *         maxNewTokens = 1 and an all-accepted first cycle reports
   *         n_acc_total = 2 for 1 emitted token — the dashboard
   *         metric a server tracks is per-VERIFICATION-PASS yield,
   *         which truncation does not refund); null prompt/id → all
   *         null
   * @param srcCol cross models' source tokens (see
   *        [[speculativeSampled]]): every fork shares the once-computed
   *        encoder k/v, so no cycle re-encodes the source; with
   *        `nWindow` only the decoder-side caches evict. Null:
   *        single-sequence models.
   */
  def speculativeSampledLoop(
      df: DataFrame,
      idCol: String,
      inputCol: String,
      target: Broadcast[TorchScriptModel],
      draft: Broadcast[TorchScriptModel],
      gamma: Int,
      maxNewTokens: Int,
      batchSize: Int = -1,
      watermarkDelta: Double = 0.0,
      watermarkGamma: (Int, Int) = (1, 2),
      nSink: Int = -1,
      nWindow: Int = -1,
      relPos: Boolean = false,
      srcCol: String = null): DataFrame = {
    require(gamma >= 1, "gamma must be >= 1")
    require(maxNewTokens >= 1, "maxNewTokens must be >= 1")
    // WATERMARK × SPECULATIVE SERVING (q285): the green bias rides the
    // TARGET's prefix softmaxes across EVERY cycle — the q281 cell
    // cycled, so a serving stack watermarks AND draft-accelerates AND
    // rolls its KV forward. delta = 0 keeps the unwatermarked path
    // bit-exactly (guarded; spec-pinned), cycle 1 replays the q281
    // cell's draws.
    requireWatermark(watermarkDelta, watermarkGamma)
    // BOUNDED-KV SERVING (q284, the StreamingLLM deployment; q293 over
    // cross models; q296 re-rotated): both models' sessions evict to
    // nSink sinks + an nWindow window — forks inherit the knobs, so
    // verification forks and roll-forwards stay O(nSink + nWindow)
    // per session. nWindow <= 0 keeps the unbounded sessions
    // (identical arithmetic; spec-pinned).
    val kv = draftPair(df, "speculativeSampledLoop", target, draft, srcCol, nSink, nWindow, relPos)
    val inIdx = df.schema.fieldIndex(inputCol)
    val idIdx = df.schema.fieldIndex(idCol)
    val (wmNum, wmDen) = watermarkGamma
    Kernel(df, LoopOut, ints = Seq(inputCol) ++ Option(srcCol), batchSize = batchSize) { () =>
      val tm = target.value
      val dm = draft.value
      val vocab = tm.outDim
      rows =>
        rows.iterator.map { r =>
          val src = kv.src(r)
          val p: Array[Int] =
            if (r.isNullAt(idIdx) || !kv.hasSrc(src)) null else Kernel.nonEmptyInts(r, inIdx)
          if (p == null) null
          else {
            val id = r.getAs[Number](idIdx).longValue()
            // target/draft @ accepted prefix; each cycle verifies on
            // forks, so rejected drafts never touch them
            val st = openSession(tm, kv, p, src)
            val sd = openSession(dm, kv, p, src)
            var prev = p(p.length - 1) // the green key for p_1
            val (out, n) = Spec.serve(maxNewTokens)(c => Spec.cycle(sd.fork(), st.fork(), prev,
              gamma, vocab, id, c, watermarkDelta, wmNum, wmDen)
            ) { toks => toks.foreach(st.append); toks.foreach(sd.append); prev = toks.last }
            (out, n.length, n.sum)
          }
        }
    }
  }

  /**
   * CONTRASTIVE DECODING (Li et al. 2023 — distinct from contrastive
   * SEARCH): each step picks, among the EXPERT's plausible candidates
   * (`p_e(j) >= alpha · max p_e` — the adaptive plausibility head),
   * the token maximizing `log p_expert − log p_amateur` — amplifying
   * what the strong model knows and the weak one doesn't, the
   * factual-decoding recipe. The amateur here is typically the int8/
   * int4-quantized expert (the same weak-model role it plays in
   * speculative decoding).
   *
   * Determinism discipline: the head floor is `dyadic alpha × 6dp
   * mass` (exact on the grid — the min-p compare); both log-softmaxes
   * quantize to 6dp before the difference, the pick ranks
   * (score DESC, tid) with a spec-pinned gap floor. The chosen token
   * appends to BOTH models' sessions.
   *
   * @return input columns + `outCol` = array<int> generated tokens
   */
  def generateContrastiveDecoding(
      df: DataFrame,
      inputCol: String,
      outCol: String,
      expert: Broadcast[TorchScriptModel],
      amateur: Broadcast[TorchScriptModel],
      steps: Int,
      plausibilityAlpha: Double,
      batchSize: Int = -1): DataFrame = {
    require(steps >= 1, "steps must be >= 1")
    require(plausibilityAlpha > 0.0 && plausibilityAlpha <= 1.0,
      "plausibilityAlpha must be in (0, 1]")
    requireTokenDecoder(expert, "generateContrastiveDecoding")
    requireTokenDecoder(amateur, "generateContrastiveDecoding")
    require(expert.value.outDim == amateur.value.outDim,
      "expert and amateur must share the vocabulary")
    val inIdx = df.schema.fieldIndex(inputCol)
    Kernel(df, fields(outCol -> Ints), ints = Seq(inputCol), batchSize = batchSize) { () =>
      val em = expert.value
      val am = amateur.value
      val vocab = em.outDim
      // (p6 masses, 6dp log-probs) from one logits read
      def dists(lg: Array[Float]): (Array[Double], Array[Double]) =
        (Spec.probs6(lg, vocab), logSoftmax(Array.tabulate(vocab)(lg(_).toDouble)).map(q6))
      rows =>
        rows.iterator.map { r =>
          val p: Array[Int] = Kernel.nonEmptyInts(r, inIdx)
          if (p == null) null
          else {
            val se = em.decodeSession(p)
            val sa = am.decodeSession(p)
            val gen = scala.collection.mutable.ArrayBuffer.empty[Int]
            var t = 0
            while (t < steps) {
              val (pe, le) = dists(se.logits())
              val (_, la) = dists(sa.logits())
              val floor = plausibilityAlpha * pe.max // dyadic × grid: exact
              val head = (0 until vocab).filter(pe(_) >= floor)
              val tok = head
                .map(j => (le(j) - la(j), j))
                .minBy { case (s0, j) => (-s0, j) }._2
              gen += tok
              se.append(tok)
              sa.append(tok)
              t += 1
            }
            gen.toSeq
          }
        }
    }
  }

  /**
   * CONTRASTIVE DECODING under BEAMS (Li et al. 2023 §5 evaluate
   * with beam search over the CD objective; round 17, VERDICT r16
   * item 5): beam search whose per-step candidate set is each live
   * beam's EXPERT plausibility head (`p_e(j) >= alpha · max p_e`,
   * per beam over its own prefix) and whose scores accumulate the CD
   * objective `log p_expert − log p_amateur` instead of the expert
   * log-prob — tokens outside a beam's head are HARD-masked (never
   * compete for width slots), exactly the paper's formulation of the
   * search problem. The chosen token appends to BOTH models'
   * sessions (forked per kept beam).
   *
   * Determinism discipline is [[generateContrastiveDecoding]]'s:
   * 6dp-quantized log-softmaxes, dyadic alpha × grid mass for the
   * head floor, f64 accumulation pinned as `s0 + (le − la)`, ranking
   * (joint DESC, parent rank ASC, token ASC). `width = 1` reduces
   * BIT-EXACTLY to greedy contrastive decoding — per step the single
   * parent's argmax of `s0 + d(j)` is the argmax of `d(j)` under the
   * same tie order, so trajectories coincide (spec-pinned).
   *
   * Scale shape: 2×width KV sessions per row inside ONE
   * `mapPartitions`; each step is width expert+amateur logit reads
   * and at most width forks per model — no shuffle at any corpus
   * size.
   *
   * @return input columns + `outCol` = array of width beams in rank
   *         order, each an array<int> of generated tokens (fewer
   *         than width beams survive only if a head is smaller than
   *         the width at step 1)
   */
  def beamSearchContrastiveDecoding(
      df: DataFrame,
      inputCol: String,
      outCol: String,
      expert: Broadcast[TorchScriptModel],
      amateur: Broadcast[TorchScriptModel],
      steps: Int,
      width: Int,
      plausibilityAlpha: Double,
      batchSize: Int = -1): DataFrame = {
    require(steps >= 1 && width >= 1, "steps and width must be >= 1")
    require(plausibilityAlpha > 0.0 && plausibilityAlpha <= 1.0,
      "plausibilityAlpha must be in (0, 1]")
    requireTokenDecoder(expert, "beamSearchContrastiveDecoding")
    requireTokenDecoder(amateur, "beamSearchContrastiveDecoding")
    require(expert.value.outDim == amateur.value.outDim,
      "expert and amateur must share the vocabulary")
    require(width <= expert.value.outDim, "width exceeds the vocabulary")
    val inIdx = df.schema.fieldIndex(inputCol)
    Kernel(df, fields(outCol -> ArrayType(Ints)),
        ints = Seq(inputCol), batchSize = batchSize) { () =>
      val em = expert.value
      val am = amateur.value
      val vocab = em.outDim
      def dists(lg: Array[Float]): (Array[Double], Array[Double]) =
        (Spec.probs6(lg, vocab), logSoftmax(Array.tabulate(vocab)(lg(_).toDouble)).map(q6))
      rows =>
        rows.iterator.map { r =>
          val p: Array[Int] = Kernel.nonEmptyInts(r, inIdx)
          if (p == null) null
          else {
            // beam state: (generated, CD running score, expert
            // session, amateur session)
            var beams: Seq[(Vector[Int], Double, em.DecodeSession, am.DecodeSession)] =
              Seq((Vector.empty[Int], 0.0, em.decodeSession(p), am.decodeSession(p)))
            var t = 0
            while (t < steps) {
              val cands = beams.zipWithIndex.flatMap {
                case ((gen, s0, se, sa), bi) =>
                  val (pe, le) = dists(se.logits())
                  val (_, la) = dists(sa.logits())
                  val floor = plausibilityAlpha * pe.max // dyadic × grid: exact
                  (0 until vocab).filter(pe(_) >= floor).map { j =>
                    // f64 order pinned: s0 + (le − la), the greedy
                    // CD accumulation — the width=1 reduction is
                    // bit-exact because of it
                    (s0 + (le(j) - la(j)), bi, j, (gen, se, sa))
                  }
              }
              beams = cands
                .sortBy { case (joint, bi, tok, _) => (-joint, bi, tok) }
                .take(width)
                .map { case (joint, _, tok, (gen, se, sa)) =>
                  val ce = se.fork(); ce.append(tok)
                  val ca = sa.fork(); ca.append(tok)
                  (gen :+ tok, joint, ce, ca)
                }
              t += 1
            }
            beams.map(_._1.toSeq)
          }
        }
    }
  }

  /**
   * Teacher-forced CONTINUATION scoring under the causal LM — the
   * single-stream sibling of [[scoreSeq2SeqBatched]]: mean next-token
   * NLL of `contCol`'s tokens given `inputCol` as the prefix,
   * `-(Σ_t log softmax(logits_t)[tok_t]) / len`, each step's
   * log-softmax in f64 over the model's f32 logits. The reranking
   * half of best-of-n sampling (q244) and the generic "how likely is
   * THIS continuation" scorer (distillation filtering, candidate
   * reranking, self-consistency weighting).
   *
   * Scale shape: per-row KV sessions inside ONE `mapPartitions` —
   * the prefix ingests once, each continuation token is an O(L·d)
   * append; no shuffle at any corpus size.
   *
   * @return input columns + `outCol` double (null/empty continuation
   *         or null prefix → null)
   */
  def scoreContinuationBatched(
      df: DataFrame,
      inputCol: String,
      contCol: String,
      outCol: String,
      model: Broadcast[TorchScriptModel],
      batchSize: Int = -1): DataFrame = {
    requireTokenDecoder(model, "scoreContinuationBatched")
    val inIdx = df.schema.fieldIndex(inputCol)
    val cIdx = df.schema.fieldIndex(contCol)
    Kernel(df, fields(outCol -> DoubleType),
        ints = Seq(inputCol, contCol), batchSize = batchSize) { () =>
      val m = model.value
      val vocab = m.outDim
      rows =>
        rows.iterator.map { r =>
          val p = Kernel.ints(r, inIdx)
          val c = Kernel.ints(r, cIdx)
          if (p == null || p.isEmpty || c == null || c.isEmpty)
            null
          else {
            val sess = m.decodeSession(p)
            var sum = 0.0
            c.foreach { tok =>
              val lg = sess.logits()
              sum += logSoftmax(Array.tabulate(vocab)(lg(_).toDouble))(tok)
              sess.append(tok)
            }
            (-sum / c.length)
          }
        }
    }
  }

  /**
   * SHARED-PREFIX greedy decoding — the prefix-caching serving shape
   * (vLLM's automatic prefix cache, SGLang's RadixAttention): rows
   * whose prompts share a common PREFIX (the system prompt, the
   * few-shot block, the task header) decode against ONE KV session
   * for that prefix, opened once per distinct prefix per batch and
   * `fork()`ed per row — the per-row cost drops from O(P²·d) prefix
   * ingest to an O(P) pointer copy plus the row's own suffix and
   * decode steps. Trajectories are BIT-IDENTICAL to
   * [[generateGreedy]] over `prefix ++ suffix` (sessions equal the
   * recompute path — spec-pinned), so the same oracle restates both.
   *
   * @param prefixCol array<int> shared-prefix column (grouping is BY
   *        VALUE — any number of distinct prefixes per batch, each
   *        opened once)
   * @param inputCol  array<int> per-row suffix (may be empty)
   * @return input columns + `outCol` = array<int> generated tokens
   *         (a NULL in EITHER column → null, as does an
   *         empty-prefix + empty-suffix row — there is nothing to
   *         decode from; an empty ARRAY in one column with tokens in
   *         the other is fine)
   */
  def generateGreedySharedPrefix(
      df: DataFrame,
      prefixCol: String,
      inputCol: String,
      outCol: String,
      model: Broadcast[TorchScriptModel],
      steps: Int,
      batchSize: Int = -1): DataFrame = {
    require(steps >= 1, "steps must be >= 1")
    requireTokenDecoder(model, "generateGreedySharedPrefix")
    val pIdx = df.schema.fieldIndex(prefixCol)
    val inIdx = df.schema.fieldIndex(inputCol)
    Kernel(df, fields(outCol -> Ints),
        ints = Seq(prefixCol, inputCol), batchSize = batchSize) { () =>
      val m = model.value
      val vocab = m.outDim
      rows =>
        // one session per DISTINCT prefix in this batch; immutable
        // after open — every row forks it
        val cache = scala.collection.mutable.Map.empty[Vector[Int], m.DecodeSession]
        rows.iterator.map { r =>
          val p = Kernel.ints(r, pIdx)
          val s = Kernel.ints(r, inIdx)
          if (p == null || s == null || p.length + s.length == 0)
            null
          else {
            val sess =
              if (p.isEmpty) null
              else cache.getOrElseUpdate(p.toVector, m.decodeSession(p))
            val child =
              if (sess == null) m.decodeSession(s)
              else {
                val c = sess.fork()
                s.foreach(c.append)
                c
              }
            val gen = scala.collection.mutable.ArrayBuffer.empty[Int]
            var t = 0
            while (t < steps) {
              val tid = argmaxFirst(child.logits(), vocab)
              gen += tid
              child.append(tid)
              t += 1
            }
            gen.toSeq
          }
        }
    }
  }

  /**
   * CONTRASTIVE SEARCH (Su et al. 2022 "A Contrastive Framework for
   * Neural Text Generation" — HF `penalty_alpha` + `top_k`): at each
   * step the top-k most probable candidates re-rank by
   * `(1−α)·p(v) − α·max_i cos(h_v, h_i)` — the candidate's model
   * confidence minus its DEGENERATION PENALTY, the maximum cosine
   * between the hidden state the model would produce for it and
   * every previous position's hidden state. The look-ahead that kills
   * repetition loops greedy decoding falls into without sacrificing
   * coherence the way sampling does.
   *
   * Determinism discipline: probabilities AND cosines quantize to the
   * 6dp grid before the score (α dyadic, so the combination is exact
   * on the grid); candidates rank (p6 DESC, tid), the final pick
   * ranks (score DESC, tid) — a spec pins the score-gap floor at
   * sf0.001 so no pick hinges on last-ulp luck.
   *
   * Scale shape: per-row KV sessions; each step is k `fork()`s (the
   * candidate look-ahead — O(L·d) each, the chosen child BECOMES the
   * session so its forward is never recomputed), all inside ONE
   * `mapPartitions` — no per-step plan growth.
   *
   * @return input columns + `outCol` = array<int> generated tokens
   */
  def generateContrastive(
      df: DataFrame,
      inputCol: String,
      outCol: String,
      model: Broadcast[TorchScriptModel],
      steps: Int,
      topK: Int,
      alpha: Double,
      batchSize: Int = -1): DataFrame = {
    require(steps >= 1, "steps must be >= 1")
    require(topK >= 1, "topK must be >= 1")
    require(alpha >= 0.0 && alpha <= 1.0, "alpha must be in [0, 1]")
    requireTokenDecoder(model, "generateContrastive")
    require(topK <= model.value.outDim, "topK exceeds the vocabulary")
    val inIdx = df.schema.fieldIndex(inputCol)
    Kernel(df, fields(outCol -> Ints), ints = Seq(inputCol), batchSize = batchSize) { () =>
      val m = model.value
      val vocab = m.outDim
      def cos6(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var j = 0
        while (j < a.length) {
          val x = a(j).toDouble; val y = b(j).toDouble
          dot += x * y; na += x * x; nb += y * y
          j += 1
        }
        q6(dot / (math.sqrt(na) * math.sqrt(nb)))
      }
      rows =>
        rows.iterator.map { r =>
          val p: Array[Int] = Kernel.nonEmptyInts(r, inIdx)
          if (p == null) null
          else {
            // token-at-a-time prompt ingest records EVERY position's
            // hidden state (the penalty compares against all of them)
            var sess = m.decodeSession(Array(p(0)))
            val hiddens = scala.collection.mutable.ArrayBuffer(sess.hidden())
            p.drop(1).foreach { tok =>
              sess.append(tok); hiddens += sess.hidden()
            }
            val gen = scala.collection.mutable.ArrayBuffer.empty[Int]
            var t = 0
            while (t < steps) {
              val p6 = Spec.probs6(sess.logits(), vocab)
              val cands = (0 until vocab).sortBy(k => (-p6(k), k)).take(topK)
              val scored = cands.map { v =>
                val child = sess.fork()
                child.append(v)
                val hv = child.hidden()
                var maxc = Double.NegativeInfinity
                hiddens.foreach { h =>
                  val c = cos6(hv, h)
                  if (c > maxc) maxc = c
                }
                val score = (1.0 - alpha) * p6(v) - alpha * maxc
                (score, v, child, hv)
              }
              val (_, tok, child, hv) =
                scored.sortBy { case (s0, v, _, _) => (-s0, v) }.head
              gen += tok
              sess = child // the winner's forward is never recomputed
              hiddens += hv
              t += 1
            }
            gen.toSeq
          }
        }
    }
  }

  /**
   * SAMPLED autoregressive decoding — temperature + top-p (nucleus)
   * sampling, the default generation mode in practice (Holtzman et
   * al. 2020), made exactly reproducible across engines with this
   * repo's determinism discipline (the q94/q187 recipe):
   *
   *  - the per-step random draw is SEEDED, not ambient:
   *    `u = (int64(md5("<id>:<step>")[0:8]) mod 1e6) / 1e6` — both
   *    engines restate the same md5 arithmetic, so there is no RNG to
   *    disagree about;
   *  - softmax probabilities (f64 from the f32 logits, max-shifted,
   *    logits scaled by `1/temperature`) QUANTIZE to 6 dp
   *    (HALF_UP — Spark/DuckDB `round(x, 6)`) before every discrete
   *    decision, so a pick never hinges on cross-libm exp ulps;
   *  - the nucleus is the standard minimal prefix of the
   *    `(p DESC, token ASC)` order whose cumulative mass reaches
   *    `topP` (a candidate joins while the mass BEFORE it is < topP);
   *  - within the nucleus, cumulative renormalized mass is computed
   *    sum-first-divide-once (`cumsum(p6) / total`), quantized to
   *    6 dp, and the pick is the FIRST candidate whose cumulative
   *    exceeds `u` — u lives on the 1e-6 grid and u <= 0.999999, so a
   *    pick always exists.
   *
   * `topP -> 0` keeps exactly the top-1 candidate, reducing to greedy
   * decoding (spec-pinned). `topK` composes as the OTHER standard
   * nucleus knob (every mainstream generation API ships both): the
   * candidate order is (p6 DESC, tid ASC) and both cutoffs are prefix
   * filters on it, so the kept set is `ranks 1..min(k_p, topK)` —
   * `topK >= vocab` reduces bit-exactly to pure top-p, `topK = 1` to
   * the top-1 pick (both spec-pinned). Scale shape: identical to
   * [[generateGreedy]] — the k-step loop runs INSIDE one
   * `mapPartitions` over GEMM batches, no per-step plan growth.
   *
   * The other knobs compose through the same [[Sampling]] kernel:
   * the static `banned` set, the CTRL `repetitionPenalty` and
   * `noRepeatNgram` (over prompt + generated), `minP`, `typicalP`
   * (with topP only), the watermark (`watermarkDelta`/
   * `watermarkGamma`, pre-temperature) and shallow fusion
   * (`lmWeight`/`lmCounts`, with temperature/topP only); each at its
   * neutral value reduces bit-exactly (spec-pinned).
   *
   * @param idCol BIGINT column seeding the per-row draw chain
   * @param srcCol a cross (encoder-decoder) model's source tokens: the
   *        row decodes through the cross KV session (encoder leg once
   *        per row) and the knobs read the decoder-side sequence. A
   *        null or empty source gives a null row. Null: a
   *        single-sequence model.
   * @return input columns + `outCol` = array<int> sampled token ids
   */
  def generateSampled(
      df: DataFrame,
      idCol: String,
      inputCol: String,
      outCol: String,
      model: Broadcast[TorchScriptModel],
      steps: Int,
      temperature: Double,
      topP: Double,
      batchSize: Int = -1,
      banned: Set[Int] = Set.empty,
      topK: Int = Int.MaxValue,
      repetitionPenalty: Double = 1.0,
      noRepeatNgram: Int = 0,
      minP: Double = 0.0,
      typicalP: Double = 1.0,
      watermarkDelta: Double = 0.0,
      watermarkGamma: (Int, Int) = (1, 2),
      lmWeight: Double = 0.0,
      lmCounts: Array[Array[Long]] = null,
      srcCol: String = null): DataFrame = {
    require(steps >= 1, "steps must be >= 1")
    requireWatermark(watermarkDelta, watermarkGamma)
    require(banned.size < model.value.outDim,
      "banned set covers the whole vocabulary")
    // SHALLOW FUSION under sampling: the frozen bigram prior adds to
    // the raw logits before the temperature (the watermark's slot in
    // the chain). Scoped to the pure temperature/top-p path — the
    // warper/penalty/watermark compositions are other oracles' turf.
    require(lmWeight >= 0.0, "lmWeight must be >= 0")
    require(lmWeight == 0.0 || (banned.isEmpty && topK == Int.MaxValue &&
      repetitionPenalty == 1.0 && noRepeatNgram == 0 && minP == 0.0 &&
      typicalP >= 1.0 && watermarkDelta == 0.0),
      "lmWeight composes with temperature/topP only")
    require(lmWeight == 0.0 || (lmCounts != null &&
      lmCounts.length == model.value.outDim &&
      lmCounts.forall(_.length == model.value.outDim)),
      "lmCounts must be vocab x vocab when lmWeight > 0")
    val bcLm: Broadcast[(Array[Array[Long]], Array[Long])] =
      if (lmWeight == 0.0) null
      else df.sparkSession.sparkContext.broadcast(
        (lmCounts, lmCounts.map(_.sum)))
    require(temperature > 0.0, "temperature must be > 0 (greedy is generateGreedy)")
    require(topP > 0.0 && topP <= 1.0, "topP must be in (0, 1]")
    require(topK >= 1, "topK must be >= 1")
    require(repetitionPenalty > 0.0, "repetitionPenalty must be > 0")
    require(noRepeatNgram == 0 || noRepeatNgram >= 2,
      "noRepeatNgram must be 0 (off) or >= 2")
    require(minP >= 0.0 && minP <= 1.0, "minP must be in [0, 1]")
    require(typicalP > 0.0, "typicalP must be > 0 (>= 1 is off)")
    // typical-p keeps by DEVIATION order, not the (p6 DESC, tid)
    // order the rank/floor cuts prefix — composing all three could
    // empty the kept set (the max-prob candidate is not necessarily
    // typical). Mass (topP) composes safely; the rank/floor knobs
    // belong to the other warper chain.
    require(typicalP >= 1.0 || (topK == Int.MaxValue && minP == 0.0),
      "typicalP composes with topP only (not topK/minP)")
    val kv = kvPolicy(df, "generateSampled", Seq(model), srcCol, session = false)
    val inIdx = df.schema.fieldIndex(inputCol)
    val idIdx = df.schema.fieldIndex(idCol)
    val plain = repetitionPenalty == 1.0 && noRepeatNgram == 0
    Kernel(df, fields(outCol -> Ints), ints = Seq(inputCol) ++ Option(srcCol),
        batchSize = batchSize) { () =>
      val m = model.value
      val vocab = m.outDim
      // per-step banned set: static bans plus n-gram completions of
      // the CURRENT sequence, LIFTING the n-gram arm when it would
      // empty the allowed vocabulary (generateGreedy's rule); the
      // seen set feeds the CTRL pre-softmax rescale
      def sampleNext(out: Array[Float], off: Int, u: Double,
          full: scala.collection.IndexedSeq[Int]): Int = {
        val stepBanned: Set[Int] =
          if (plain || noRepeatNgram < 2 || full.length < noRepeatNgram - 1)
            banned
          else {
            val n1 = noRepeatNgram - 1
            val suffix = full.takeRight(n1)
            val ng = (0 to full.length - noRepeatNgram).iterator.collect {
              case i if (0 until n1).forall(k => full(i + k) == suffix(k)) =>
                full(i + n1)
            }.toSet
            if ((0 until vocab).exists(j => !banned.contains(j) && !ng(j)))
              banned ++ ng
            else banned
          }
        val seen: Set[Int] =
          if (repetitionPenalty != 1.0) full.toSet else Set.empty
        Sampling.sampleNext(out, off, vocab, temperature, topP, u,
          stepBanned, topK, seen, repetitionPenalty, minP, typicalP,
          greenPrev = if (watermarkDelta != 0.0) full.last else -1,
          greenDelta = watermarkDelta,
          greenNum = watermarkGamma._1, greenDen = watermarkGamma._2,
          fusePrev = if (lmWeight != 0.0) full.last else -1,
          fuseWeight = lmWeight,
          fuseCnts = if (bcLm == null) null else bcLm.value._1,
          fuseRows = if (bcLm == null) null else bcLm.value._2)
      }
      rows =>
        val srcs: Array[Array[Int]] = if (kv.srcIdx < 0) null else rows.map(kv.src).toArray
        val seqs: Array[Array[Int]] =
          rows.map(r => if (r.isNullAt(idIdx)) null else Kernel.nonEmptyInts(r, inIdx)).toArray
        if (srcs != null) seqs.indices.foreach(i => if (srcs(i) == null) seqs(i) = null)
        val ids: Array[Long] = rows.map(r =>
          if (r.isNullAt(idIdx)) 0L else r.getAs[Number](idIdx).longValue()).toArray
        val gen = Array.fill(seqs.length)(
          scala.collection.mutable.ArrayBuffer.empty[Int])
        if (m.cacheable) {
          // KV-cache decode (bit-identical logits; see generateGreedy)
          seqs.zipWithIndex.foreach { case (s0, ri) =>
            if (s0 != null) {
              val sess = openSession(m, kv, s0, if (srcs == null) null else srcs(ri))
              val full = scala.collection.mutable.ArrayBuffer.from(s0)
              var t = 1
              while (t <= steps) {
                val tid = sampleNext(sess.logits(), 0, Sampling.draw(ids(ri), t), full)
                gen(ri) += tid
                sess.append(tid)
                full += tid
                t += 1
              }
            }
          }
        } else {
          var t = 1
          var cur = seqs
          while (t <= steps) {
            val liveIdx = cur.indices.filter(cur(_) != null)
            if (liveIdx.nonEmpty) {
              val out = m.forwardTokensBatch(liveIdx.map(cur(_)).toArray)
              val next = cur.clone()
              liveIdx.zipWithIndex.foreach { case (ri, k) =>
                val tid = sampleNext(out, k * vocab, Sampling.draw(ids(ri), t),
                  scala.collection.immutable.ArraySeq.unsafeWrapArray(cur(ri)))
                gen(ri) += tid
                next(ri) = cur(ri) :+ tid
              }
              cur = next
            }
            t += 1
          }
        }
        seqs.indices.iterator.map { ri =>
          if (seqs(ri) == null) null
          else gen(ri).toSeq
        }
    }
  }

  /**
   * MULTI-RETURN sampled decoding — HF `num_return_sequences`: k
   * independent seeded trajectories PER ROW through the identical
   * [[Sampling]] kernel (temperature + nucleus), the data-augmentation
   * serving shape (k paraphrases / k candidate continuations per
   * source). Seed discipline: sequence 0 draws from `"<id>:<step>"` —
   * BIT-IDENTICAL to [[generateSampled]]'s trajectory, so k = 1
   * reduces exactly and adding sequences never changes sequence 0 —
   * and sequence s > 0 draws from `"<id>:<s>:<step>"` (both engines
   * restate the md5).
   *
   * Scale shape: one `mapPartitions`, no per-step plan growth. On the
   * KV path the k trajectories FORK one shared prompt session (the
   * prefix-sharing serving trick — the prompt's O(L·d) attention state
   * is computed once per row, each sequence pays only its own O(d)
   * decode steps); without a cacheable model all rows × sequences ride
   * one `forwardTokensBatch` per step.
   *
   * @return input columns + `outCol` = array<array<int>>: the k
   *         generated-token arrays in sequence order (null input →
   *         null)
   */
  def generateSampledK(
      df: DataFrame,
      idCol: String,
      inputCol: String,
      outCol: String,
      model: Broadcast[TorchScriptModel],
      steps: Int,
      temperature: Double,
      topP: Double,
      numReturnSequences: Int,
      batchSize: Int = -1): DataFrame = {
    require(steps >= 1, "steps must be >= 1")
    require(numReturnSequences >= 1, "numReturnSequences must be >= 1")
    require(temperature > 0.0, "temperature must be > 0 (greedy is generateGreedy)")
    require(topP > 0.0 && topP <= 1.0, "topP must be in (0, 1]")
    require(model.value.inDim == -1, "generateSampledK needs a token-input model")
    require(!model.value.isCross,
      "generateSampledK: cross-attention model not supported (generateSampled takes srcCol)")
    val k = numReturnSequences
    val inIdx = df.schema.fieldIndex(inputCol)
    val idIdx = df.schema.fieldIndex(idCol)
    Kernel(df, fields(outCol -> ArrayType(Ints)),
        ints = Seq(inputCol), batchSize = batchSize) { () =>
      val m = model.value
      val vocab = m.outDim
      rows =>
        val seqs: Array[Array[Int]] =
          rows.map(r => if (r.isNullAt(idIdx)) null else Kernel.nonEmptyInts(r, inIdx)).toArray
        val ids: Array[Long] = rows.map(r =>
          if (r.isNullAt(idIdx)) 0L else r.getAs[Number](idIdx).longValue()).toArray
        val gen = Array.fill(seqs.length, k)(
          scala.collection.mutable.ArrayBuffer.empty[Int])
        if (m.cacheable) {
          seqs.zipWithIndex.foreach { case (s0, ri) =>
            if (s0 != null) {
              // ONE prompt session per row; every sequence forks it —
              // the shared prefix is attended once, per-sequence work
              // is only that sequence's own appended tokens
              val base = m.decodeSession(s0)
              var sq = 0
              while (sq < k) {
                val sess = base.fork()
                var t = 1
                while (t <= steps) {
                  val tid = Sampling.sampleNext(sess.logits(), 0, vocab,
                    temperature, topP, Sampling.draw(ids(ri), sq, t))
                  gen(ri)(sq) += tid
                  sess.append(tid)
                  t += 1
                }
                sq += 1
              }
            }
          }
        } else {
          // flatten (row, sequence) trajectories: all live entries of
          // every sequence ride ONE forwardTokensBatch per step
          val cur: Array[Array[Int]] =
            Array.tabulate(seqs.length * k)(i => seqs(i / k))
          var t = 1
          while (t <= steps) {
            val liveIdx = cur.indices.filter(cur(_) != null)
            if (liveIdx.nonEmpty) {
              val out = m.forwardTokensBatch(liveIdx.map(cur(_)).toArray)
              liveIdx.zipWithIndex.foreach { case (fi, bi) =>
                val (ri, sq) = (fi / k, fi % k)
                val tid = Sampling.sampleNext(out, bi * vocab, vocab,
                  temperature, topP, Sampling.draw(ids(ri), sq, t))
                gen(ri)(sq) += tid
                cur(fi) = cur(fi) :+ tid
              }
            }
            t += 1
          }
        }
        seqs.indices.iterator.map { ri =>
          if (seqs(ri) == null) null
          else gen(ri).toSeq.map(_.toSeq)
        }
    }
  }

  /**
   * AUTO-WINDOW from divergence telemetry — the KV-budget edition of
   * the auto-gamma / auto-nprobe telemetry → knob closures: given a
   * ladder of candidate `windows`, greedy-decode every row ONCE per
   * rung alongside the UNBOUNDED baseline (all inside one
   * mapPartitions pass — one corpus scan prices the whole ladder) and
   * PICK the smallest nWindow whose output-divergence rate stays
   * within `divNum/divDen` — the cheapest per-session KV budget that
   * keeps serving outputs inside the quality tolerance. Divergence is
   * the INTEGER per-row flag "any emitted token differs from the
   * unbounded baseline" (token equality, no float crosses the gate),
   * the budget check is cross-multiplied (`n_diff·divDen <=
   * divNum·n_docs`), and the fallback when no rung meets it is the
   * ladder max (best effort, flagged by meets_budget = 0 everywhere).
   *
   * Scale shape: per row the rungs cost |windows| bounded sessions of
   * O(nSink + w) state each — no repeated scan, no join between
   * rungs; the output is one integer GROUP BY over (nwindow, diff)
   * pairs plus the |windows|-row pick window (telemetry-exempt, the
   * q259 convention).
   *
   * @return one row per nWindow, ordered: `nwindow` int, `n_docs`
   *         long, `n_diff` long, `meets_budget` int, `picked` int
   *         (exactly one 1)
   */
  def autoKvWindow(
      df: DataFrame,
      inputCol: String,
      model: Broadcast[TorchScriptModel],
      steps: Int,
      nSink: Int,
      windows: Seq[Int],
      divNum: Int,
      divDen: Int,
      batchSize: Int = -1): DataFrame = {
    require(steps >= 1, "steps must be >= 1")
    require(nSink >= 0, "nSink must be >= 0")
    require(windows.nonEmpty, "windows must be non-empty")
    require(windows == windows.sorted && windows.distinct == windows,
      "windows must be strictly ascending")
    require(windows.forall(_ >= 1), "every nWindow must be >= 1")
    require(divNum >= 0 && divDen >= 1, "divergence budget must be a fraction")
    val bs = Kernel.batchSize(df.sparkSession, batchSize)
    requireTokenDecoder(model, "autoKvWindow")
    val withInts = graft.Spread(df).select(col(inputCol).cast(ArrayType(IntegerType))
      .as(inputCol))
    val pairSchema = StructType(Seq(
      StructField("nwindow", IntegerType, nullable = false),
      StructField("diff", IntegerType, nullable = false)))
    val maxW = windows.max
    val rungs = windows.map(w => w -> Kv(-1, nSink, w, relPos = false))
    val pairs = withInts.mapPartitions { it =>
      val m = model.value
      val vocab = m.outDim
      def gens(sess: TorchScriptModel#DecodeSession): Array[Int] = {
        val g = new Array[Int](steps)
        var t = 0
        while (t < steps) {
          val tok = argmaxFirst(sess.logits(), vocab)
          g(t) = tok
          sess.append(tok)
          t += 1
        }
        g
      }
      it.grouped(bs).flatMap { rows =>
        rows.iterator.flatMap { r =>
          val p: Array[Int] = Kernel.nonEmptyInts(r, 0)
          if (p == null) Iterator.empty
          else {
            val base = gens(m.decodeSession(p))
            rungs.iterator.map { case (w, kv) =>
              val g = gens(openSession(m, kv, p, null))
              Row(w, if (java.util.Arrays.equals(g, base)) 0 else 1)
            }
          }
        }
      }
    }(org.apache.spark.sql.Encoders.row(pairSchema))
    val sweep = pairs.groupBy("nwindow")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("diff")).cast("long").as("n_diff"))
    val wAll = Window.partitionBy(lit(1))
    sweep
      .withColumn("meets_budget",
        when(col("n_diff") * divDen <= lit(divNum.toLong) * col("n_docs"), 1)
          .otherwise(0))
      .withColumn("__minMeet",
        min(when(col("meets_budget") === 1, col("nwindow"))).over(wAll))
      .select(col("nwindow"),
        col("n_docs"),
        col("n_diff"),
        col("meets_budget"),
        when(col("__minMeet").isNotNull,
          (col("nwindow") === col("__minMeet")).cast("int"))
          .otherwise((col("nwindow") === maxW).cast("int")).as("picked"))
      .orderBy("nwindow")
  }

  /**
   * Greedy autoregressive decoding — `steps` rounds of (forward pass
   * → argmax over the vocab logits → append) over a token-input net
   * whose output width IS the vocab (a causal LM head); its position
   * table must cover the grown length — the interpreter fails loudly
   * past it, never wraps. Argmax is the repo rule: FIRST max wins,
   * NaN never wins ([[graft.functions.ArgMax]], the oracle's CASE
   * chain). The k-step loop runs INSIDE one `mapPartitions` — one
   * job, no per-step plan growth. A cacheable model decodes through
   * per-row KV sessions (logits bit-identical to the recompute path,
   * spec-pinned); any other re-runs the full prefix per step.
   *
   * Knobs, each off by default (the default path is the plain
   * argmax): `repetitionPenalty` (CTRL: seen logits `x > 0 → x/p else
   * x·p` in f64); `noRepeatNgram` (bans n-gram completions, LIFTING
   * the ban when it would empty the vocabulary); `eosId` (early stop,
   * the eos emitted); `dfaTrans` (a `(nStates, vocab)` grammar, −1 =
   * forbidden, a HARD constraint validated up front); `bannedPhrases`
   * (HF `bad_words_ids`, hard); `minNewTokens` (no eos before that
   * many tokens); `forcedTokens` (a token emitted at a step);
   * `beginSuppress` (banned at step 0); the soft watermark
   * (`watermarkDelta`/`watermarkGamma`, Kirchenbauer et al. 2023:
   * +delta on the green logits keyed on the last token).
   *
   * SHALLOW FUSION (Gulcehre et al. 2015): `lmWeight > 0` picks
   * `argmax_j logits(j) + lmWeight · ln((lmCounts(prev)(j) + 1) /
   * (rowSum(prev) + vocab))`, the frozen add-one bigram prior of the
   * ingest corpus (broadcast once). As in [[beamSearch]], fusion needs
   * the KV path and composes with the watermark and eos, not with the
   * constraint knobs.
   *
   * KV budget: `nWindow > 0` bounds every causal cache to `nSink`
   * sinks + the last `nWindow` positions at ABSOLUTE positions
   * ([[TorchScriptModel.decodeSessionWindowed]], StreamingLLM); a
   * window covering the final length is bit-identical to the
   * unbounded session (spec-pinned). `relPos` re-rotates the bounded
   * caches ([[TorchScriptModel.decodeSessionRelPos]]), lifting a
   * bias-position model's length limit.
   *
   * @param srcCol a cross (encoder-decoder, T5/BART) model's source
   *        tokens: the encoder leg and cross k/v run once per row at
   *        session open; the knobs read the decoder-side sequence. A
   *        null or empty source gives a null row. Null: a
   *        single-sequence model.
   * @return input columns + `outCol` = array<int> of the generated
   *         token ids (null input → null output)
   */
  def generateGreedy(
      df: DataFrame,
      inputCol: String,
      outCol: String,
      model: Broadcast[TorchScriptModel],
      steps: Int,
      batchSize: Int = -1,
      banned: Set[Int] = Set.empty,
      repetitionPenalty: Double = 1.0,
      noRepeatNgram: Int = 0,
      eosId: Int = -1,
      dfaTrans: Array[Array[Int]] = null,
      bannedPhrases: Seq[Seq[Int]] = Nil,
      minNewTokens: Int = 0,
      forcedTokens: Map[Int, Int] = Map.empty,
      beginSuppress: Set[Int] = Set.empty,
      watermarkDelta: Double = 0.0,
      watermarkGamma: (Int, Int) = (1, 2),
      lmWeight: Double = 0.0,
      lmCounts: Array[Array[Long]] = null,
      nSink: Int = -1,
      nWindow: Int = -1,
      relPos: Boolean = false,
      srcCol: String = null): DataFrame = {
    require(steps >= 1, "steps must be >= 1")
    requireWatermark(watermarkDelta, watermarkGamma)
    require(bannedPhrases.forall(_.nonEmpty), "empty banned phrase")
    require(minNewTokens >= 0, "minNewTokens must be >= 0")
    require(minNewTokens == 0 || eosId >= 0,
      "minNewTokens needs an eosId to suppress")
    // forced decoder ids (HF `forced_decoder_ids` / `forced_bos` —
    // the Whisper language/task-token shape): at generation step i
    // (0-based) the token is EMITTED, not decoded — forcing overrides
    // every soft and hard constraint at its step (HF masks all other
    // logits to -inf), so it must not contradict a DFA walk
    require(forcedTokens.isEmpty || dfaTrans == null,
      "forcedTokens cannot compose with a DFA grammar")
    require(forcedTokens.forall { case (i, tok) =>
      i >= 0 && i < steps && tok >= 0 && tok < model.value.outDim },
      "forcedTokens: steps must be in [0, steps), tokens in the vocabulary")
    // begin-suppress (HF `begin_suppress_tokens`): hard-banned at the
    // FIRST generation step only — Whisper bans eos/timestamps there
    require(beginSuppress.forall(t => t >= 0 && t < model.value.outDim),
      "beginSuppress tokens must be in the vocabulary")
    require(forcedTokens.contains(0) ||
      (banned ++ beginSuppress).size < model.value.outDim,
      "beginSuppress + banned cover the whole vocabulary at step 0")
    require(lmWeight >= 0.0, "lmWeight must be >= 0")
    val kv = kvPolicy(df, "generateGreedy", Seq(model), srcCol, nSink, nWindow, relPos,
      session = lmWeight != 0.0)
    require(banned.size < model.value.outDim,
      "banned set covers the whole vocabulary")
    require(repetitionPenalty > 0.0, "repetitionPenalty must be > 0")
    require(noRepeatNgram == 0 || noRepeatNgram >= 2,
      "noRepeatNgram must be 0 (off) or >= 2")
    require(eosId < model.value.outDim, "eosId exceeds the vocabulary")
    if (dfaTrans != null) {
      val vocab = model.value.outDim
      require(dfaTrans.nonEmpty && dfaTrans.forall(_.length == vocab),
        s"dfaTrans must be (nStates, vocab=$vocab)")
      dfaTrans.zipWithIndex.foreach { case (row, st) =>
        require(row.forall(n => n >= -1 && n < dfaTrans.length),
          s"DFA state $st: next states must be -1 (forbidden) or " +
            s"< ${dfaTrans.length}")
        require(row.exists(_ != -1), s"DFA state $st allows no token")
      }
    }
    val constrained = banned.nonEmpty || repetitionPenalty != 1.0 || noRepeatNgram != 0 ||
      dfaTrans != null || bannedPhrases.nonEmpty || minNewTokens != 0 ||
      forcedTokens.nonEmpty || beginSuppress.nonEmpty
    require(lmWeight == 0.0 || !constrained,
      "lmWeight does not compose with the constraint knobs")
    require(lmWeight == 0.0 || (lmCounts != null &&
      lmCounts.length == model.value.outDim &&
      lmCounts.forall(_.length == model.value.outDim)),
      "lmCounts must be vocab x vocab when lmWeight > 0")
    // the frozen-ingest broadcast convention: the vocab² count matrix
    // (and its row sums) cross the wire once per executor, never per
    // task
    val bcLm: Broadcast[(Array[Array[Long]], Array[Long])] =
      if (lmWeight == 0.0) null
      else df.sparkSession.sparkContext.broadcast((lmCounts, lmCounts.map(_.sum)))
    val inIdx = df.schema.fieldIndex(inputCol)
    val plain = repetitionPenalty == 1.0 && noRepeatNgram == 0 &&
      eosId < 0 && dfaTrans == null && bannedPhrases.isEmpty &&
      minNewTokens == 0 && forcedTokens.isEmpty && beginSuppress.isEmpty &&
      watermarkDelta == 0.0 && lmWeight == 0.0
    Kernel(df, fields(outCol -> Ints), ints = Seq(inputCol) ++ Option(srcCol),
        batchSize = batchSize) { () =>
      val m = model.value
      val vocab = m.outDim
      val lm = if (bcLm == null) null else bcLm.value
      // the fused pick: logits (+ the watermark) + lmWeight · ln((cnt+1)
      // / (rowSum+V)) over the bigram row of `prev` — no constraint
      // knob reaches it, so it needs no per-step candidate sets
      def argmaxFused(out: Array[Float], off: Int, prev: Int): Int = {
        var best = -1
        var bv = Double.NaN
        var j = 0
        while (j < vocab) {
          val x0 = out(off + j).toDouble
          val xw =
            if (watermarkDelta != 0.0 &&
                Sampling.greenToken(prev, j, watermarkGamma._1, watermarkGamma._2))
              x0 + watermarkDelta
            else x0
          val x = xw + lmWeight * StrictMath.log(
            (lm._1(prev)(j) + 1L).toDouble / (lm._2(prev) + vocab.toLong).toDouble)
          if (!x.isNaN && (best < 0 || x > bv)) { best = j; bv = x }
          j += 1
        }
        require(best >= 0, "all-NaN logits")
        best
      }
      // banned ids are simply never candidates (constrained decoding)
      val allowed: Int => Boolean = if (banned.isEmpty) null else j => !banned.contains(j)
      // the knobbed pick: seen-token logits rescale in f64, n-gram
      // completions of the CURRENT (prompt + generated) sequence are
      // banned unless that would empty the vocabulary (then the ban
      // lifts for the step — the penalty still applies)
      def argmaxAdjusted(out: Array[Float], off: Int,
          full: scala.collection.IndexedSeq[Int], state: Int,
          genLen: Int): Int = {
        // grammar and banned-phrase bans are HARD (safety semantics —
        // the bad_words_ids contract: a candidate completing any
        // banned phrase against the current suffix never decodes);
        // the n-gram ban lifts rather than contradict them
        def completesPhrase(j: Int): Boolean =
          bannedPhrases.exists { ph =>
            ph.last == j && ph.length - 1 <= full.length &&
              full.takeRight(ph.length - 1) == ph.init
          }
        def hardBanned(j: Int): Boolean =
          banned.contains(j) ||
            (dfaTrans != null && dfaTrans(state)(j) == -1) ||
            completesPhrase(j) ||
            (eosId >= 0 && j == eosId && genLen < minNewTokens) ||
            (genLen == 0 && beginSuppress.contains(j))
        val ngBanned: Set[Int] =
          if (noRepeatNgram >= 2 && full.length >= noRepeatNgram - 1) {
            val n1 = noRepeatNgram - 1
            val suffix = full.takeRight(n1)
            (0 to full.length - noRepeatNgram).iterator.collect {
              case i if (0 until n1).forall(k => full(i + k) == suffix(k)) =>
                full(i + n1)
            }.toSet
          } else Set.empty
        val seen: Set[Int] =
          if (repetitionPenalty != 1.0) full.toSet else Set.empty
        val ngLive =
          (0 until vocab).exists(j => !hardBanned(j) && !ngBanned(j))
        var best = -1
        var bv = Double.NaN
        var j = 0
        while (j < vocab) {
          if (!hardBanned(j) && !(ngLive && ngBanned(j))) {
            val x0 = out(off + j).toDouble
            val xp =
              if (seen(j)) {
                if (x0 > 0.0) x0 / repetitionPenalty
                else x0 * repetitionPenalty
              } else x0
            // soft watermark (Kirchenbauer et al. 2023): the GREEN
            // num/den of the vocabulary — md5("<prev>:<j>") mod den
            // < num, the repo's cross-engine hash discipline — gets
            // +delta on its logit before the pick; dyadic delta + the
            // exact integer predicate keeps the bias bit-identical to
            // the oracle's CASE at any rational green fraction
            val x =
              if (watermarkDelta != 0.0 &&
                  Sampling.greenToken(full.last, j,
                    watermarkGamma._1, watermarkGamma._2))
                xp + watermarkDelta
              else xp
            if (!x.isNaN && (best < 0 || x > bv)) { best = j; bv = x }
          }
          j += 1
        }
        // the up-front DFA validation checks each state in ISOLATION;
        // a pathological static-ban/phrase/DFA COMPOSITION can still
        // empty the candidate set — say so, not just "NaN"
        require(best >= 0, "no decodable token: hard bans (banned set" +
          " + DFA state + banned phrases) emptied the vocabulary, or" +
          " all remaining logits are NaN")
        best
      }
      rows =>
        val seqs: Array[Array[Int]] = rows.map(Kernel.nonEmptyInts(_, inIdx)).toArray
        val srcs: Array[Array[Int]] = if (kv.srcIdx < 0) null else rows.map(kv.src).toArray
        if (srcs != null) seqs.indices.foreach(i => if (srcs(i) == null) seqs(i) = null)
        val gen = Array.fill(seqs.length)(
          scala.collection.mutable.ArrayBuffer.empty[Int])
        if (m.cacheable) {
          // KV-cache decode: per-row incremental sessions — each step
          // costs O(L·d), not the O(L²·d) full-prefix recompute, and
          // the per-step logits are BIT-IDENTICAL to the recompute
          // path (TorchGenerateSpec pins equality on every sf0.001
          // doc), so trajectories and oracles are unchanged.
          seqs.zipWithIndex.foreach { case (s0, ri) =>
            if (s0 != null) {
              val sess = openSession(m, kv, s0, if (srcs == null) null else srcs(ri))
              val full = scala.collection.mutable.ArrayBuffer.from(s0)
              var state = 0
              var t = 0
              var stopped = false
              while (t < steps && !stopped) {
                // a forced step emits without reading logits at all —
                // the session still appends (the NEXT step's state
                // needs the forced token's k/v like any other)
                val tid = forcedTokens.get(gen(ri).length) match {
                  case Some(f) => f
                  case None =>
                    val lg = sess.logits()
                    if (plain) argmaxFirst(lg, vocab, 0, allowed)
                    else if (lm != null) argmaxFused(lg, 0, full.last)
                    else argmaxAdjusted(lg, 0, full, state, gen(ri).length)
                }
                gen(ri) += tid
                if (tid == eosId) stopped = true
                else {
                  sess.append(tid)
                  if (!plain) full += tid
                  if (dfaTrans != null) state = dfaTrans(state)(tid)
                }
                t += 1
              }
            }
          }
        } else {
          var t = 0
          var cur = seqs
          val states = new Array[Int](seqs.length)
          val done = new Array[Boolean](seqs.length)
          while (t < steps) {
            val liveIdx = cur.indices.filter(i => cur(i) != null && !done(i))
            if (liveIdx.nonEmpty) {
              val out = m.forwardTokensBatch(liveIdx.map(cur(_)).toArray)
              val next = cur.clone()
              liveIdx.zipWithIndex.foreach { case (ri, k) =>
                val tid = forcedTokens.get(gen(ri).length) match {
                  case Some(f) => f
                  case None =>
                    if (plain) argmaxFirst(out, vocab, k * vocab, allowed)
                    else argmaxAdjusted(out, k * vocab,
                      scala.collection.immutable.ArraySeq.unsafeWrapArray(cur(ri)),
                      states(ri), gen(ri).length)
                }
                gen(ri) += tid
                if (tid == eosId) done(ri) = true
                else {
                  next(ri) = cur(ri) :+ tid
                  if (dfaTrans != null) states(ri) = dfaTrans(states(ri))(tid)
                }
              }
              cur = next
            }
            t += 1
          }
        }
        seqs.indices.iterator.map { ri =>
          if (seqs(ri) == null) null
          else gen(ri).toSeq
        }
    }
  }

  /**
   * PROMPT-LOOKUP decoding (Saxena 2023; HF
   * `prompt_lookup_num_tokens` — the DRAFT-MODEL-FREE speculative
   * mode): the draft for the next tokens is the continuation of the
   * EARLIEST earlier occurrence of the prompt's final `ngram` tokens
   * inside the prompt itself — the n-gram copy heuristic that wins on
   * summarization/code/RAG inputs where the output parrots spans of
   * the input. No second model, no draft forward pass at all: the
   * draft is a table lookup, the target pays one (sessionized)
   * verification pass for up to `maxDraft + 1` emitted tokens.
   *
   * Verification is the GREEDY-equivalence rule (the q212 shape, not
   * the stochastic Leviathan rule — with a deterministic point-mass
   * draft there is nothing to resample): walk the drafts in order,
   * accept draft i iff it equals the target's argmax at that prefix;
   * the argmax at the first mismatch IS the correction, and an
   * all-accepted walk emits the target's bonus argmax at the full
   * prefix. Emitted tokens are therefore ALWAYS a prefix of the
   * plain [[generateGreedy]] rollout of length `n_accepted + 1`
   * (spec-pinned) — the lookup only decides how many greedy tokens
   * one verification pass yields. The drafts enter [[Spec.walk]] as a
   * branch-1 chain (a path of length n has the one child `drafts(n)`).
   *
   * Match discipline (all integer decisions — nothing numeric):
   * pattern = the final `ngram` tokens of the (sliced) prompt; a
   * match is a start position strictly before the pattern's own
   * start whose `ngram` tokens equal it; the EARLIEST match wins
   * (HF's scan order); drafts = the `min(maxDraft, available)`
   * tokens following the match (≥ 1 by construction). A prompt
   * shorter than `ngram + 1`, or with no match, drafts nothing and
   * degrades to one plain greedy step (n_drafted = 0, n_accepted
   * = 0, one emitted token).
   *
   * Scale shape: ONE target KV session per row, `n_accepted + 1`
   * logit reads, inside ONE `mapPartitions` — strictly cheaper than
   * [[speculativeSampledGamma]] (no draft session) at any corpus
   * size; the lookup itself is O(L·ngram) integer scan.
   *
   * @return input columns + `draft_toks` array<int> (possibly
   *         empty), `n_drafted` int, `n_accepted` int, `out_toks`
   *         array<int> (the emitted `n_accepted + 1` greedy tokens);
   *         null prompt → all null
   */
  def generatePromptLookup(
      df: DataFrame,
      inputCol: String,
      model: Broadcast[TorchScriptModel],
      ngram: Int,
      maxDraft: Int,
      batchSize: Int = -1): DataFrame = {
    require(ngram >= 1, "ngram must be >= 1")
    require(maxDraft >= 1, "maxDraft must be >= 1")
    requireTokenDecoder(model, "generatePromptLookup")
    val inIdx = df.schema.fieldIndex(inputCol)
    Kernel(df, LookupOut, ints = Seq(inputCol), batchSize = batchSize) { () =>
      val m = model.value
      val vocab = m.outDim
      rows =>
        rows.iterator.map { r =>
          val p: Array[Int] = Kernel.nonEmptyInts(r, inIdx)
          if (p == null) null
          else {
            val (drafts, n, out) = Spec.lookupWalk(m.decodeSession(p),
              scala.collection.immutable.ArraySeq.unsafeWrapArray(p), ngram, maxDraft, vocab)
            (drafts.toSeq, drafts.length, n, out)
          }
        }
    }
  }

  /**
   * The MULTI-DRAFT SERVING LOOP — [[speculativeSampledMultiDraft]]
   * cycled for `maxNewTokens` positions: each cycle runs one b-way
   * [[Spec.level]] at the current prefix and emits exactly ONE
   * target-distributed token (an accepted draft or the residual
   * sample), which extends both sessions. Completes the
   * {cell, loop} pair for the multi-draft mode; per-position
   * `acc_rounds` is the serving telemetry (which try depth pays).
   *
   * Salts are position-offset — cycle c uses
   * `d/a{(c−1)·b + i}` and `r{c·b}` — so cycle 1 replays
   * [[speculativeSampledMultiDraft]] bit-exactly (spec-pinned).
   *
   * @return input columns + `out_toks` array<int> (exactly
   *         maxNewTokens tokens), `acc_rounds` array<int> (the
   *         per-cycle accepted round, 0 = residual-sampled); null
   *         prompt/id → all null
   */
  def speculativeSampledMultiDraftLoop(
      df: DataFrame,
      idCol: String,
      inputCol: String,
      target: Broadcast[TorchScriptModel],
      draft: Broadcast[TorchScriptModel],
      numDrafts: Int,
      maxNewTokens: Int,
      batchSize: Int = -1): DataFrame = {
    require(numDrafts >= 1, "numDrafts must be >= 1")
    require(maxNewTokens >= 1, "maxNewTokens must be >= 1")
    val kv = draftPair(df, "speculativeSampledMultiDraftLoop", target, draft)
    val inIdx = df.schema.fieldIndex(inputCol)
    val idIdx = df.schema.fieldIndex(idCol)
    Kernel(df, fields("out_toks" -> Ints, "acc_rounds" -> Ints),
        ints = Seq(inputCol), batchSize = batchSize) { () =>
      val tm = target.value
      val dm = draft.value
      val vocab = tm.outDim
      rows =>
        rows.iterator.map { r =>
          val p: Array[Int] = if (r.isNullAt(idIdx)) null else Kernel.nonEmptyInts(r, inIdx)
          if (p == null) null
          else {
            val id = r.getAs[Number](idIdx).longValue()
            val st = openSession(tm, kv, p, null)
            val sd = openSession(dm, kv, p, null)
            Spec.serve(maxNewTokens) { c =>
              val (drafts, acc, tok) = Spec.level(Spec.probs6(sd.logits(), vocab), st, numDrafts,
                vocab, id, (c - 1) * numDrafts)
              (drafts, acc, Seq(tok))
            } { toks => sd.append(toks.last); st.append(toks.last) }
          }
        }
    }
  }

  /**
   * STOCHASTIC prompt-lookup decoding — [[generatePromptLookup]]'s
   * n-gram drafts verified by the DISTRIBUTION-PRESERVING rule
   * instead of greedy equivalence (HF's assisted SAMPLING mode): a
   * deterministic lookup is a point-mass draft `q = δ_x`, so the
   * Leviathan acceptance specializes to `accept x_i w.p. p_i(x_i)`
   * and the rejection residual to `p_i` with `x_i` zeroed (max(0,
   * p − δ_x) ∝ p off x) — the emitted tokens are provably
   * distributed as target samples, unlike the greedy variant's
   * deterministic rollout. All-accepted walks emit a bonus sample
   * from the target at the fully-drafted prefix.
   *
   * Each draft runs as a one-draft [[Spec.level]] with q = δ_x down
   * [[Spec.stochasticWalk]], so the determinism discipline is
   * [[speculativeSampled]]'s: 6dp-grid distributions, md5 draws with
   * position-indexed salts (acceptance `"a<i>"`, residual `"r<i>"`,
   * bonus `"b1"`; the draft pick from δ_x is x whatever its draw).
   *
   * @return input columns + `draft_toks` array<int>, `n_drafted`
   *         int, `n_accepted` int, `out_toks` array<int> (length
   *         n_accepted + 1); null prompt/id → all null
   */
  def promptLookupSampled(
      df: DataFrame,
      idCol: String,
      inputCol: String,
      model: Broadcast[TorchScriptModel],
      ngram: Int,
      maxDraft: Int,
      batchSize: Int = -1): DataFrame = {
    require(ngram >= 1, "ngram must be >= 1")
    require(maxDraft >= 1, "maxDraft must be >= 1")
    requireTokenDecoder(model, "promptLookupSampled")
    val inIdx = df.schema.fieldIndex(inputCol)
    val idIdx = df.schema.fieldIndex(idCol)
    Kernel(df, LookupOut, ints = Seq(inputCol), batchSize = batchSize) { () =>
      val m = model.value
      val vocab = m.outDim
      rows =>
        rows.iterator.map { r =>
          val p: Array[Int] = if (r.isNullAt(idIdx)) null else Kernel.nonEmptyInts(r, inIdx)
          if (p == null) null
          else {
            val id = r.getAs[Number](idIdx).longValue()
            val (drafts, n, out) = Spec.lookupSampledWalk(m.decodeSession(p),
              scala.collection.immutable.ArraySeq.unsafeWrapArray(p), ngram, maxDraft, vocab, id)
            (drafts.toSeq, drafts.length, n, out)
          }
        }
    }
  }

  /**
   * TYPICAL-ACCEPTANCE tree decoding (Medusa's actual acceptance
   * rule — Cai et al. 2024 §3.2.2, after Meister et al.'s typical
   * sampling): instead of requiring the draft child to BE the
   * target's argmax ([[treeDraftGreedy]]'s exact-match mode), a
   * child x is ACCEPTED when the target deems it plausible enough —
   * `p(x) ≥ min(ε, δ·exp(−H(p)))` with H the entropy of the
   * target's distribution at that prefix — so high-entropy (flat)
   * positions tolerate more, low-entropy (peaked) positions nearly
   * require the argmax. The walk descends into the HIGHEST-p
   * accepted child per level; the first level with no accepted
   * child stops, and the emission is the accepted path + the
   * target's argmax at the final prefix (Medusa's deterministic
   * continuation). Unlike greedy equivalence, the emitted tokens
   * are NOT a greedy rollout — accepted drafts are tokens the
   * target merely tolerates — which is exactly the speed-vs-
   * fidelity dial Medusa ships. The cell is [[Spec.treeWalk]] under
   * the [[Spec.typical]] rule.
   *
   * Determinism discipline: the decision compares 6dp-grid values —
   * p6(x) against `thr6 = q6(min(ε, δ·exp(−H6)))` where H6 =
   * −Σ p6·ln(p6) over the positive grid masses in ascending-tid f64
   * order (both engines restate the identical sum from identical
   * grid inputs; ε, δ dyadic) — and a spec pins the fixture's
   * min |p6 − thr6| margin above the grid step, so no acceptance
   * hinges on a cross-libm exp/ln last-ulp.
   *
   * @return input columns + `tree` array<array<int>> (BFS children,
   *         [[treeDraftGreedy]]'s layout), `n_accepted` int,
   *         `out_toks` array<int> (accepted path + final argmax;
   *         length n_accepted + 1); null prompt → all null
   */
  def treeDraftTypical(
      df: DataFrame,
      inputCol: String,
      target: Broadcast[TorchScriptModel],
      draft: Broadcast[TorchScriptModel],
      branch: Int,
      depth: Int,
      posteriorEps: Double,
      posteriorAlpha: Double,
      batchSize: Int = -1): DataFrame = {
    require(branch >= 1, "branch must be >= 1")
    require(depth >= 1, "depth must be >= 1")
    require(posteriorEps > 0.0 && posteriorEps <= 1.0,
      "posteriorEps must be in (0, 1]")
    require(posteriorAlpha > 0.0, "posteriorAlpha must be > 0")
    val kv = draftPair(df, "treeDraftTypical", target, draft, branch = branch)
    val inIdx = df.schema.fieldIndex(inputCol)
    Kernel(df, TreeOut, ints = Seq(inputCol), batchSize = batchSize) { () =>
      val tm = target.value
      val dm = draft.value
      val vocab = tm.outDim
      val rule = Spec.typical(vocab, posteriorEps, posteriorAlpha)
      rows =>
        rows.iterator.map { r =>
          val p: Array[Int] = Kernel.nonEmptyInts(r, inIdx)
          if (p == null) null
          else Spec.treeWalk(openSession(dm, kv, p, null), openSession(tm, kv, p, null),
            branch, depth, vocab, rule)
        }
    }
  }

  /**
   * The TYPICAL-ACCEPTANCE TREE SERVING LOOP — [[treeDraftTypical]]
   * cycled until `maxNewTokens` tokens are emitted (then truncated),
   * giving the LAST decode mode its serving loop (every other mode's
   * landed in rounds 17–19): each cycle the draft proposes a fresh
   * `branch × depth` tree at the CURRENT prefix (forks of the
   * accepted-prefix draft session), the target walks Medusa's typical
   * rule (`p6(x) ≥ q6(min(ε, δ·e^{−H}))` per level, highest-p6
   * accepted child descends), and the emitted tokens (accepted path +
   * the argmax continuation) extend BOTH sessions. The whole mode is
   * DRAW-FREE — cycles are pure functions of the prefix. Each cycle is
   * the cell's [[Spec.treeWalk]], run by [[Spec.serve]], so cycle 1 is
   * [[treeDraftTypical]] (spec-pinned). Cycles run to completion
   * (cycle-level `n_acc_total`, the [[speculativeSampledLoop]]
   * convention).
   *
   * @return input columns + `out_toks` array<int> (exactly
   *         maxNewTokens tokens), `n_cycles` int, `n_acc_total` int;
   *         null prompt → all null
   */
  def treeDraftTypicalLoop(
      df: DataFrame,
      inputCol: String,
      target: Broadcast[TorchScriptModel],
      draft: Broadcast[TorchScriptModel],
      branch: Int,
      depth: Int,
      posteriorEps: Double,
      posteriorAlpha: Double,
      maxNewTokens: Int,
      batchSize: Int = -1,
      nSink: Int = -1,
      nWindow: Int = -1): DataFrame = {
    require(branch >= 1, "branch must be >= 1")
    require(depth >= 1, "depth must be >= 1")
    require(maxNewTokens >= 1, "maxNewTokens must be >= 1")
    require(posteriorEps > 0.0 && posteriorEps <= 1.0,
      "posteriorEps must be in (0, 1]")
    require(posteriorAlpha > 0.0, "posteriorAlpha must be > 0")
    // BOUNDED-KV typical-tree serving (q302): the target sessions
    // (and tree forks) evict; an attention-free early-exit draft has
    // no k/v state, so its windowed sessions are identical by
    // construction. nWindow <= 0 keeps the unbounded sessions.
    val kv = draftPair(df, "treeDraftTypicalLoop", target, draft, null, nSink, nWindow,
      branch = branch)
    val inIdx = df.schema.fieldIndex(inputCol)
    Kernel(df, LoopOut, ints = Seq(inputCol), batchSize = batchSize) { () =>
      val tm = target.value
      val dm = draft.value
      val vocab = tm.outDim
      val rule = Spec.typical(vocab, posteriorEps, posteriorAlpha)
      rows =>
        rows.iterator.map { r =>
          val p: Array[Int] = Kernel.nonEmptyInts(r, inIdx)
          if (p == null) null
          else {
            val st = openSession(tm, kv, p, null)
            val sd = openSession(dm, kv, p, null)
            val (out, n) = Spec.serve(maxNewTokens)(_ =>
              Spec.treeWalk(sd, st, branch, depth, vocab, rule)
            ) { toks => st.append(toks.last); toks.foreach(sd.append) }
            (out, n.length, n.sum)
          }
        }
    }
  }

  /**
   * The TREE-DRAFT SERVING LOOP — [[treeDraftGreedy]] cycled until
   * `maxNewTokens` tokens are emitted (then truncated), completing
   * the {cell, loop, telemetry} triple for the tree mode like
   * [[speculativeSampledLoop]] did for chain drafts and
   * [[generatePromptLookupLoop]] for prompt lookup: each cycle the
   * draft proposes a fresh `branch × depth` tree at the CURRENT
   * accepted prefix, the target greedy-verifies, and the emitted
   * tokens (accepted path + correction-or-bonus) extend both
   * sessions. Greedy-equivalence again means the target session only
   * ever appends (no rollback — rejected branches never touched it)
   * and the emission IS the plain [[generateGreedy]] rollout
   * truncated to `maxNewTokens` (spec-pinned); the outputs add the
   * serving telemetry. Cycles run to completion (cycle-level
   * `n_acc_total`, the [[speculativeSampledLoop]] convention); each is
   * the cell's [[Spec.treeWalk]], run by [[Spec.serve]], so cycle 1 is
   * [[treeDraftGreedy]].
   *
   * @return input columns + `out_toks` array<int> (exactly
   *         maxNewTokens tokens), `n_cycles` int, `n_acc_total` int;
   *         null prompt → all null
   */
  def treeDraftGreedyLoop(
      df: DataFrame,
      inputCol: String,
      target: Broadcast[TorchScriptModel],
      draft: Broadcast[TorchScriptModel],
      branch: Int,
      depth: Int,
      maxNewTokens: Int,
      batchSize: Int = -1,
      nSink: Int = -1,
      nWindow: Int = -1,
      relPos: Boolean = false): DataFrame = {
    require(branch >= 1, "branch must be >= 1")
    require(depth >= 1, "depth must be >= 1")
    require(maxNewTokens >= 1, "maxNewTokens must be >= 1")
    // BOUNDED-KV tree serving (q301): both accepted-prefix sessions
    // (and every tree-node fork rooted at them) evict to nSink sinks
    // + an nWindow window. nWindow <= 0 keeps the unbounded sessions
    // (identical arithmetic; spec-pinned). relPos (q304) switches
    // them to the re-rotation dial — the tree loop runs past the
    // models' bias-table length.
    val kv = draftPair(df, "treeDraftGreedyLoop", target, draft, null, nSink, nWindow, relPos,
      branch)
    val inIdx = df.schema.fieldIndex(inputCol)
    Kernel(df, LoopOut, ints = Seq(inputCol), batchSize = batchSize) { () =>
      val tm = target.value
      val dm = draft.value
      val vocab = tm.outDim
      val rule = Spec.exact(vocab)
      rows =>
        rows.iterator.map { r =>
          val p: Array[Int] = Kernel.nonEmptyInts(r, inIdx)
          if (p == null) null
          else {
            // the DRAFT session tracks the accepted prefix too — each
            // cycle's tree roots at it, so neither model ever replays
            // the prompt
            val st = openSession(tm, kv, p, null)
            val sd = openSession(dm, kv, p, null)
            val (out, n) = Spec.serve(maxNewTokens)(_ =>
              Spec.treeWalk(sd, st, branch, depth, vocab, rule)
            ) { toks => st.append(toks.last); toks.foreach(sd.append) }
            (out, n.length, n.sum)
          }
        }
    }
  }

  /**
   * MULTI-DRAFT stochastic speculative verification (the SpecInfer
   * cell — Miao et al. 2023's multi-round speculative sampling, the
   * STOCHASTIC counterpart of [[treeDraftGreedy]]'s per-level
   * accept): the draft proposes `numDrafts` INDEPENDENT token
   * samples `x_1..x_b ~ q` for ONE position, and the target runs
   * multi-round rejection: round i accepts `x_i` with probability
   * `min(1, p_i(x_i)/q(x_i))` where `p_1 = p` and each rejection
   * updates `p_{i+1} = norm(max(p_i − q, 0))`; if every round
   * rejects, the final token samples from the last residual. The
   * composition is provably target-distributed (the multi-draft
   * generalization of the Leviathan rule) — b tries at one
   * verification pass instead of one.
   *
   * Determinism discipline extends [[speculativeSampled]]'s exactly:
   * distributions on the 6dp grid; draft picks salt `"d<i>"`,
   * acceptances `"a<i>"`, the final residual pick `"r<b>"` — so
   * `numDrafts = 1` replays q247 BIT-EXACTLY (same draft token, same
   * acceptance draw, same residual walk; spec-pinned): both are one
   * [[Spec.level]]. Round-2+
   * residuals NORMALIZE on the grid (`n_i(j) = q6(m_i(j)/Σm_i)`,
   * the Σ an ascending-tid f64 sum both engines restate) because the
   * acceptance RATIO needs a normalized numerator — the final pick
   * walk itself is scale-invariant. An all-zero residual at any
   * stage (p == q on the grid) keeps the current draft token, the
   * q247 convention.
   *
   * Scale shape: one draft + one target KV session per row, ONE
   * logit read each (single position), inside ONE `mapPartitions`.
   *
   * @return input columns + `draft_toks` array<int> (the b samples),
   *         `acc_round` int (1-based accepted round; 0 = all
   *         rejected), `final_tok` int; null prompt/id → all null
   */
  def speculativeSampledMultiDraft(
      df: DataFrame,
      idCol: String,
      inputCol: String,
      target: Broadcast[TorchScriptModel],
      draft: Broadcast[TorchScriptModel],
      numDrafts: Int,
      batchSize: Int = -1): DataFrame = {
    require(numDrafts >= 1, "numDrafts must be >= 1")
    val kv = draftPair(df, "speculativeSampledMultiDraft", target, draft)
    val inIdx = df.schema.fieldIndex(inputCol)
    val idIdx = df.schema.fieldIndex(idCol)
    Kernel(df, fields("draft_toks" -> Ints, "acc_round" -> IntegerType, "final_tok" -> IntegerType),
        ints = Seq(inputCol), batchSize = batchSize) { () =>
      val tm = target.value
      val dm = draft.value
      val vocab = tm.outDim
      rows =>
        rows.iterator.map { r =>
          val p: Array[Int] = if (r.isNullAt(idIdx)) null else Kernel.nonEmptyInts(r, inIdx)
          if (p == null) null
          else {
            val id = r.getAs[Number](idIdx).longValue()
            val (drafts, acc, tok) = Spec.level(Spec.probs6(openSession(dm, kv, p, null).logits(), vocab),
              openSession(tm, kv, p, null), numDrafts, vocab, id, 0)
            (drafts.toSeq, acc, tok)
          }
        }
    }
  }

  /**
   * STOCHASTIC TREE verification — SpecInfer PROPER (Miao et al. 2023
   * §4.2, multi-step speculative sampling over a token tree):
   * [[treeDraftGreedy]]'s level-by-level descent composed with
   * [[speculativeSampledMultiDraft]]'s multi-round rejection applied
   * PER LEVEL over a node's children, so the emitted tokens are
   * provably target-distributed even though the draft proposed a
   * TREE. At each level ([[Spec.level]], down [[Spec.stochasticWalk]])
   * the draft samples `branch` i.i.d. children from q(· | prefix)
   * (they may repeat — q269's convention) and the walk runs
   * [[Spec.multiRoundWalk]] against the target's
   * distribution at the accepted prefix: an accepted round's child
   * becomes the descent (both sessions append it); a residual-sampled
   * round (accRound = 0) emits the correction and STOPS — the
   * theorem's guarantee is per-position, so the walk below a
   * rejection has no verified prefix to stand on; a full `depth`-walk
   * earns the bonus sample from the target at the fully-accepted
   * prefix (salt `b1`). Because non-walked nodes' children are never
   * needed sequentially, the tree is LAZY — only the walked node per
   * level is sampled (a GPU server materializes the full tree to
   * batch verification in one kernel; the semantics are identical).
   *
   * Salt discipline: level ℓ (1-based) uses draft picks
   * `d<(ℓ−1)·branch+i>`, acceptances `a<(ℓ−1)·branch+i>`, residual
   * `r<ℓ·branch>`, bonus `b1` — so `branch = 1` replays
   * [[speculativeSampledGamma]] at gamma = depth EXACTLY (same draws,
   * same residual walks, same bonus; spec-pinned on out_toks and
   * n_accepted), and level 1 at any branch IS
   * [[speculativeSampledMultiDraft]]'s cell (spec-pinned). An
   * identity draft accepts round 1 at every level (ratio quantizes
   * to 1, draws < 1).
   *
   * Scale shape: one draft + one target KV session per row (appends
   * only — no forks needed on the lazy walk), O(depth·branch) picks
   * inside ONE `mapPartitions`; no shuffle at any corpus size.
   *
   * @return input columns + `tree` array<array<int>> (the WALKED
   *         node's children per level, in walk order — levels below
   *         the stop are absent), `acc_rounds` array<int> (per-level
   *         accepted round, 0 = residual-stopped), `n_accepted` int
   *         (levels descended), `out_toks` array<int> (accepted path
   *         + correction-or-bonus; length n_accepted + 1); null
   *         prompt/id → all null
   */
  def treeDraftStochastic(
      df: DataFrame,
      idCol: String,
      inputCol: String,
      target: Broadcast[TorchScriptModel],
      draft: Broadcast[TorchScriptModel],
      branch: Int,
      depth: Int,
      batchSize: Int = -1): DataFrame = {
    require(branch >= 1, "branch must be >= 1")
    require(depth >= 1, "depth must be >= 1")
    val kv = draftPair(df, "treeDraftStochastic", target, draft)
    val inIdx = df.schema.fieldIndex(inputCol)
    val idIdx = df.schema.fieldIndex(idCol)
    Kernel(df, fields("tree" -> ArrayType(Ints), "acc_rounds" -> Ints, "n_accepted" -> IntegerType,
        "out_toks" -> Ints),
        ints = Seq(inputCol), batchSize = batchSize) { () =>
      val tm = target.value
      val dm = draft.value
      val vocab = tm.outDim
      rows =>
        rows.iterator.map { r =>
          val p: Array[Int] = if (r.isNullAt(idIdx)) null else Kernel.nonEmptyInts(r, inIdx)
          if (p == null) null
          else {
            val id = r.getAs[Number](idIdx).longValue()
            val (tree, rounds, out) = Spec.treeSampledWalk(openSession(dm, kv, p, null),
              openSession(tm, kv, p, null), branch, depth, vocab, id, 1)
            (tree, rounds, rounds.count(_ > 0), out)
          }
        }
    }
  }

  /**
   * The STOCHASTIC-TREE SERVING LOOP — [[treeDraftStochastic]] cycled
   * until `maxNewTokens` tokens are emitted (then truncated),
   * completing the {cell, loop} pair for the SpecInfer-proper mode
   * like [[speculativeSampledLoop]] did for chain drafts: each cycle
   * runs the lazy per-level multi-round walk at the CURRENT prefix
   * and emits its accepted path + correction-or-bonus. No forks, no
   * rollback — the walk only ever appends target-distributed tokens
   * (accepted children during the walk, the final sample after it);
   * rejected children never touch a session.
   *
   * Salt discipline: cycle c level ℓ uses offset
   * `((c−1)·depth + (ℓ−1))·branch` for d/a (residual at
   * `offset + branch`), bonus `b<c>`; every cycle is the cell's
   * [[Spec.treeSampledWalk]], run by [[Spec.serve]], so cycle 1 is
   * [[treeDraftStochastic]] (spec-pinned), and every
   * cycle's draws stay independent of partition layout. Cycles run
   * to completion (cycle-level `n_acc_total`, the
   * [[speculativeSampledLoop]] convention).
   *
   * @return input columns + `out_toks` array<int> (exactly
   *         maxNewTokens tokens), `n_cycles` int, `n_acc_total` int;
   *         null prompt/id → all null
   */
  def treeDraftStochasticLoop(
      df: DataFrame,
      idCol: String,
      inputCol: String,
      target: Broadcast[TorchScriptModel],
      draft: Broadcast[TorchScriptModel],
      branch: Int,
      depth: Int,
      maxNewTokens: Int,
      batchSize: Int = -1,
      nSink: Int = -1,
      nWindow: Int = -1): DataFrame = {
    require(branch >= 1, "branch must be >= 1")
    require(depth >= 1, "depth must be >= 1")
    require(maxNewTokens >= 1, "maxNewTokens must be >= 1")
    // BOUNDED-KV tree serving (q299): both rolling sessions evict to
    // nSink sinks + an nWindow window — the lazy stochastic walk only
    // ever APPENDS (no forks, no rollback), so the eviction knob
    // composes with the tree exactly as with the greedy rollout.
    // nWindow <= 0 keeps the unbounded sessions (identical
    // arithmetic; spec-pinned).
    val kv = draftPair(df, "treeDraftStochasticLoop", target, draft, null, nSink, nWindow)
    val inIdx = df.schema.fieldIndex(inputCol)
    val idIdx = df.schema.fieldIndex(idCol)
    Kernel(df, LoopOut, ints = Seq(inputCol), batchSize = batchSize) { () =>
      val tm = target.value
      val dm = draft.value
      val vocab = tm.outDim
      rows =>
        rows.iterator.map { r =>
          val p: Array[Int] = if (r.isNullAt(idIdx)) null else Kernel.nonEmptyInts(r, inIdx)
          if (p == null) null
          else {
            val id = r.getAs[Number](idIdx).longValue()
            val sd = openSession(dm, kv, p, null)
            val st = openSession(tm, kv, p, null)
            val (out, n) = Spec.serve(maxNewTokens) { c =>
              val (tree, rounds, toks) = Spec.treeSampledWalk(sd, st, branch, depth, vocab, id, c)
              (tree, rounds.count(_ > 0), toks)
            } { toks => sd.append(toks.last); st.append(toks.last) }
            (out, n.length, n.sum)
          }
        }
    }
  }

  /**
   * AUTO-GAMMA from acceptance telemetry — the operator that CLOSES
   * the telemetry → knob loop the q259/q267/q270 dashboards exist
   * for: pick the serving gamma for a corpus by integer yield argmax.
   * ONE [[speculativeSampledGamma]] sweep at `maxGamma` prices every
   * smaller gamma for free: acceptance draws are position-salted
   * (`a<i>`), so a gamma-g cycle's accepted count is
   * `min(n_accepted@maxGamma, g)` — the first-rejection position
   * doesn't move when the drafting horizon shortens. Per candidate
   * gamma the corpus yield is `Σ_docs (min(n_acc, g) + 1)` emitted
   * tokens, and the pick maximizes yield per cycle cost `g + 1`
   * (g draft evals + 1 bonus/correction slot — the verification pass
   * is sessionized either way). The fraction argmax is EXACT integer
   * math: scores are `yield · (L / (g + 1))` with
   * `L = lcm(2..maxGamma+1)`, ranked (score DESC, gamma ASC) — no
   * float crosses the decision, per the quantized-decision
   * convention.
   *
   * Scale shape: the sweep is the decode mapPartitions; the histogram
   * is ONE integer groupBy over (gamma ≤ maxGamma) keys — the q259
   * telemetry exchange (exempt from the ≤1-exchange audit like every
   * GROUP-BY-over-decode-output telemetry query).
   *
   * @return one row per candidate gamma: `gamma` int, `n_docs` long,
   *         `yield_toks` long, `score` long, `picked` int (1 on the
   *         argmax row)
   */
  /** lcm over positive longs — the exact-integer scaling the
    * fraction-argmax picks ([[autoGammaYield]], [[autoBranchYield]])
    * use so no float ever crosses a knob decision. */
  private def lcmOf(xs: Seq[Long]): Long =
    xs.foldLeft(1L) { (acc, d) =>
      val g = java.math.BigInteger.valueOf(acc)
        .gcd(java.math.BigInteger.valueOf(d)).longValueExact()
      acc / g * d
    }

  def autoGammaYield(
      df: DataFrame,
      idCol: String,
      inputCol: String,
      target: Broadcast[TorchScriptModel],
      draft: Broadcast[TorchScriptModel],
      maxGamma: Int,
      batchSize: Int = -1): DataFrame = {
    require(maxGamma >= 1, "maxGamma must be >= 1")
    val L = lcmOf((2 to maxGamma + 1).map(_.toLong))
    val swept = speculativeSampledGamma(df, idCol, inputCol, target, draft,
        gamma = maxGamma, batchSize = batchSize)
      .filter(col("n_accepted").isNotNull)
      .select(col("n_accepted").cast("long").as("n_acc"))
    import org.apache.spark.sql.functions.{count, explode, least, lit,
      row_number, sequence, sum, when}
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("gamma"))
    swept
      .select(explode(sequence(lit(1), lit(maxGamma))).as("gamma"),
        col("n_acc"))
      .groupBy("gamma")
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("n_acc"), col("gamma").cast("long")) + 1L)
          .as("yield_toks"))
      .withColumn("score",
        col("yield_toks") * (lit(L) / (col("gamma") + 1)).cast("long"))
      .withColumn("picked",
        when(row_number().over(w) === 1, 1).otherwise(0))
      .select(col("gamma"), col("n_docs"), col("yield_toks"),
        col("score"), col("picked"))
  }

  /**
   * AUTO-BRANCH from tree-acceptance telemetry — [[autoGammaYield]]'s
   * pick for the TREE mode (q270's histogram turned into a knob).
   * Unlike the gamma sweep, branch widths cannot share one run (a
   * different branch changes the sampled children and every
   * downstream draw — no salt-prefix trick), so each candidate runs
   * its own [[treeDraftStochastic]] sweep; branch = 1 is bit-exactly
   * the gamma = depth chain (spec-pinned), so the cheapest candidate
   * doubles as the chain-mode comparator. Yield per cycle is
   * `Σ (n_accepted + 1)` emitted tokens against the STATIC cycle
   * budget `branch · depth + 1` draft picks (the provisioning number
   * a server allocates per verification pass — worst-case tree size
   * plus the bonus slot). The argmax is EXACT integer math: scores
   * `yield · (lcm / cost)`, ranked (score DESC, branch ASC) — ties
   * fall to the narrower tree.
   *
   * @return one row per candidate branch: `branch` int, `n_docs`
   *         long, `yield_toks` long, `score` long, `picked` int
   */
  def autoBranchYield(
      df: DataFrame,
      idCol: String,
      inputCol: String,
      target: Broadcast[TorchScriptModel],
      draft: Broadcast[TorchScriptModel],
      branches: Seq[Int],
      depth: Int,
      batchSize: Int = -1): DataFrame = {
    require(branches.nonEmpty && branches.forall(_ >= 1),
      "branches must be >= 1")
    require(branches.distinct.length == branches.length,
      "duplicate branch candidates")
    val costs = branches.map(b => b.toLong * depth + 1L)
    val L = lcmOf(costs)
    import org.apache.spark.sql.functions.{count, lit, row_number, sum, when}
    val legs = branches.map { b =>
      treeDraftStochastic(df, idCol, inputCol, target, draft,
          branch = b, depth = depth, batchSize = batchSize)
        .filter(col("n_accepted").isNotNull)
        .select(lit(b).as("branch"),
          col("n_accepted").cast("long").as("n_acc"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("branch"))
    legs.reduce(_ unionAll _)
      .groupBy("branch")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_acc") + 1L).as("yield_toks"))
      .withColumn("score",
        col("yield_toks") *
          (lit(L) / (col("branch").cast("long") * depth + 1L)).cast("long"))
      .withColumn("picked",
        when(row_number().over(w) === 1, 1).otherwise(0))
      .select(col("branch"), col("n_docs"), col("yield_toks"),
        col("score"), col("picked"))
  }

  /**
   * The PROMPT-LOOKUP SERVING LOOP — [[generatePromptLookup]] cycled
   * until `maxNewTokens` tokens are emitted (then truncated), the
   * shape a PLD-accelerated server runs: each cycle looks the final
   * `ngram` up over the FULL current sequence (prompt + everything
   * generated so far — generated text becomes lookup corpus, which
   * is exactly why PLD compounds on repetitive outputs), drafts its
   * continuation, and greedy-verifies. Because verification is
   * greedy-equivalence, every emitted token extends the accepted
   * prefix and the ONE target KV session only ever appends — no
   * forks, no rollback (rejected drafts never touched the session;
   * the correction is the argmax already computed). Emitted tokens
   * are ALWAYS the plain [[generateGreedy]] rollout truncated to
   * `maxNewTokens` (spec-pinned); the loop's outputs add the serving
   * telemetry: how many verification cycles that rollout cost, and
   * the cycle-level acceptance count.
   *
   * A cycle always runs to completion (its full accept walk + bonus)
   * even when it overshoots `maxNewTokens` — the server truncates
   * output, not the cycle — so `n_acc_total` is CYCLE-LEVEL like
   * [[speculativeSampledLoop]]'s. Every cycle is the cell's
   * [[Spec.lookupWalk]] over the grown stream, run by [[Spec.serve]],
   * so cycle 1 is [[generatePromptLookup]] (spec-pinned).
   *
   * @return input columns + `out_toks` array<int> (exactly
   *         maxNewTokens tokens), `n_cycles` int, `n_acc_total` int;
   *         null prompt → all null
   */
  def generatePromptLookupLoop(
      df: DataFrame,
      inputCol: String,
      model: Broadcast[TorchScriptModel],
      ngram: Int,
      maxDraft: Int,
      maxNewTokens: Int,
      batchSize: Int = -1,
      nSink: Int = -1,
      nWindow: Int = -1,
      relPos: Boolean = false): DataFrame = {
    require(ngram >= 1, "ngram must be >= 1")
    require(maxDraft >= 1, "maxDraft must be >= 1")
    require(maxNewTokens >= 1, "maxNewTokens must be >= 1")
    // BOUNDED-KV lookup serving (q298): the one rolling target
    // session evicts to nSink sinks + an nWindow window — the
    // LOOKUP side stays over the FULL token stream (token ids are
    // cheap; only k/v state is bounded — the StreamingLLM deployment
    // keeps the text, evicts the cache), so drafts still come from
    // anywhere in the sequence while verification runs at
    // O(nSink + nWindow) state. nWindow <= 0 keeps the unbounded
    // session (identical arithmetic; spec-pinned).
    val kv = kvPolicy(df, "generatePromptLookupLoop", Seq(model), null, nSink, nWindow, relPos)
    val inIdx = df.schema.fieldIndex(inputCol)
    Kernel(df, LoopOut, ints = Seq(inputCol), batchSize = batchSize) { () =>
      val m = model.value
      val vocab = m.outDim
      rows =>
        rows.iterator.map { r =>
          val p: Array[Int] = Kernel.nonEmptyInts(r, inIdx)
          if (p == null) null
          else {
            val sess = openSession(m, kv, p, null)
            val full = scala.collection.mutable.ArrayBuffer.from(p)
            val (out, n) = Spec.serve(maxNewTokens)(_ =>
              Spec.lookupWalk(sess, full, ngram, maxDraft, vocab)
            ) { toks => sess.append(toks.last); full ++= toks }
            (out, n.length, n.sum)
          }
        }
    }
  }

  /**
   * TREE-DRAFT speculative decoding (the Medusa / SpecInfer shape —
   * Cai et al. 2024, Miao et al. 2023): instead of one draft CHAIN,
   * the draft model proposes a TOKEN TREE — its top-`branch`
   * candidates at the prompt, then top-`branch` continuations of
   * EACH of those, `depth` levels deep — and the target verifies all
   * branches against one (sessionized) pass. A chain draft wastes
   * its whole budget when position 1 misses; a tree hedges: the
   * target's token only has to fall among `branch` siblings at each
   * level for the walk to descend.
   *
   * Verification is the GREEDY-equivalence rule (Medusa's exact-match
   * mode): t_k = the target's argmax at the accepted prefix; level k
   * accepts iff t_k is among the current tree node's children, and
   * the walk descends into that child; the first miss makes t_k the
   * correction, a full walk earns the bonus argmax. Emitted tokens
   * are therefore ALWAYS a prefix of the plain [[generateGreedy]]
   * rollout of length `n_accepted + 1` (spec-pinned) — the tree only
   * decides how many greedy tokens one verification pass yields. An
   * identity draft (draft eq target) always accepts every level: the
   * target's argmax is the draft's p6-rank-1 child by construction.
   *
   * Tree discipline: children rank by the draft's 6dp-quantized
   * softmax (p6 DESC, tid ASC) — the q241 top-k pick, a quantized
   * decision whose rank-boundary gap gets the spec-pinned floor.
   * Draft sessions FORK per node (O(L) pointer copy), so building
   * the `(branch^depth − 1)/(branch − 1)` internal nodes costs one
   * draft logit read each — the tree-attention batching a GPU server
   * does in one kernel, restated as KV-shared incremental reads. The
   * cell is [[Spec.treeWalk]] under the [[Spec.exact]] rule.
   *
   * Scale shape: one draft session + forks and one target session
   * per row, inside ONE `mapPartitions` — no shuffle, no per-step
   * plan growth, O(branch^depth · L · d) bounded by the knobs.
   *
   * @return input columns + `tree` array<array<int>>: the children
   *         arrays in BFS node order (root's children, then each
   *         level-1 node's children left-to-right, ...; leaves have
   *         no entry), `n_accepted` int, `out_toks` array<int> (the
   *         emitted `n_accepted + 1` greedy tokens); null prompt →
   *         all null
   */
  def treeDraftGreedy(
      df: DataFrame,
      inputCol: String,
      target: Broadcast[TorchScriptModel],
      draft: Broadcast[TorchScriptModel],
      branch: Int,
      depth: Int,
      batchSize: Int = -1): DataFrame = {
    require(branch >= 1, "branch must be >= 1")
    require(depth >= 1, "depth must be >= 1")
    val kv = draftPair(df, "treeDraftGreedy", target, draft, branch = branch)
    val inIdx = df.schema.fieldIndex(inputCol)
    Kernel(df, TreeOut, ints = Seq(inputCol), batchSize = batchSize) { () =>
      val tm = target.value
      val dm = draft.value
      val vocab = tm.outDim
      val rule = Spec.exact(vocab)
      rows =>
        rows.iterator.map { r =>
          val p: Array[Int] = Kernel.nonEmptyInts(r, inIdx)
          if (p == null) null
          else Spec.treeWalk(openSession(dm, kv, p, null), openSession(tm, kv, p, null),
            branch, depth, vocab, rule)
        }
    }
  }
}
