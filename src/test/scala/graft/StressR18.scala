package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Round-15 stress — the round's new surfaces at 500k-row scale:
 *
 *  1. Seq2seq NLL quality filter (q210's shape, the one round-14
 *     surface VERDICT r14 flagged without a volume number): 500k
 *     (6-token decoder, 12-token source) pairs through ONE
 *     scan-side scoreSeq2SeqBatched pass — no shuffle, every row
 *     scored.
 *  2. Cross SPECULATIVE decode (q212's composition) at 500k pairs:
 *     int4 draft proposes 2 tokens via cross KV sessions, the target
 *     verifies via chained pair inferences; the greedy-equivalence
 *     property holds on every row (accepted prefix + correction ==
 *     the target's own greedy trajectory).
 *  3. Decode-knob legs at 500k single-stream rows: top-k sampling
 *     (q211 — reproducible under repartitioning), repetition-penalty
 *     + no-repeat-bigram greedy (q213 — no emitted bigram repeats
 *     unless the ban lifted), length-normalized EOS beams (q214 —
 *     completed beams never expand past their eos).
 *  4. ALiBi / causal-window KV-session A/B (VERDICT r14 item 1's
 *     timing evidence): 20k 12-token prompts decoded 4 steps through
 *     sessions vs the full O(L^2) prefix recompute — BIT-identical
 *     trajectories required; the wall-clock ratio is the win the
 *     banded-bias cacheability extension buys on the Llama/Mistral
 *     serving shapes.
 *
 * Run: SPARK_DRIVER_MEM=28g sbt "Test/runMain graft.StressR18"
 */
object StressR18 {

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

    // ---- 1. seq2seq NLL filter at 500k pairs -----------------------
    val cm = SparkEntry.crossGenModel
    val bcC = spark.sparkContext.broadcast(cm)
    val dvocab = cm.seqHead.get.vocab
    val kvocab = cm.encHead.get.vocab
    val pairs = spark.range(500000L).select(col("id").as("doc_id"),
      transform(sequence(lit(0), lit(5)),
        i => pmod(col("id") * 17L + i * 5L, lit(dvocab.toLong))).as("d_ids"),
      transform(sequence(lit(0), lit(11)),
        i => pmod(col("id") * 131L + i * 37L, lit(kvocab.toLong))).as("s_ids"))
    val scored = graft.torch.Torch.scoreSeq2SeqBatched(pairs, "d_ids", "s_ids",
      "nll", bcC).select(col("doc_id"), col("nll"))
    val nS = timed("seq2seq NLL filter, 500k x (6 + 12) pairs")(
      scored.filter(col("nll").isNotNull).count())
    require(nS == 500000L, s"seq2seq filter dropped rows: $nS")
    // scores must be finite and in a sane NLL range (0, ln(vocab)*8)
    val bad = scored.filter(col("nll").isNull || col("nll") <= 0.0 ||
      col("nll") > math.log(dvocab.toDouble) * 8).count()
    require(bad == 0, s"$bad rows with out-of-range NLL")

    // ---- 2. cross speculative decode at 500k pairs -----------------
    graft.functions.ArgMax.register(spark)
    val bcD = spark.sparkContext.broadcast(
      graft.torch.TorchQuant.quantize(cm, 7))
    val toks2 = spark.range(500000L).select(col("id").as("doc_id"),
      transform(sequence(lit(0), lit(1)),
        i => pmod(col("id") * 17L + i * 5L, lit(dvocab.toLong))).as("d_ids"),
      transform(sequence(lit(0), lit(11)),
        i => pmod(col("id") * 131L + i * 37L, lit(kvocab.toLong))).as("s_ids"))
    val drafted = graft.torch.Torch.generateGreedy(toks2, "d_ids",
      "draft", bcD, steps = 2, batchSize = 512, srcCol = "s_ids")
    val withSeqs = drafted
      .withColumn("seq1",
        concat(col("d_ids"), org.apache.spark.sql.functions.slice(
          col("draft").cast("array<bigint>"), 1, 1)))
      .withColumn("seq2", concat(col("d_ids"), col("draft").cast("array<bigint>")))
    val v1 = graft.torch.Torch.inferPairBatched(withSeqs, "d_ids", "s_ids",
        "l1", bcC, batchSize = 512)
      .withColumn("t1", call_function("argmax", col("l1"))).drop("l1")
    val v2 = graft.torch.Torch.inferPairBatched(v1, "seq1", "s_ids",
        "l2", bcC, batchSize = 512)
      .withColumn("t2", call_function("argmax", col("l2"))).drop("l2")
    val spec = graft.torch.Torch.inferPairBatched(v2, "seq2", "s_ids",
        "l3", bcC, batchSize = 512)
      .withColumn("t3", call_function("argmax", col("l3"))).drop("l3")
      .cache()
    val nSpec = timed("cross speculative decode, 500k pairs")(spec.count())
    require(nSpec == 500000L, s"speculative decode dropped rows: $nSpec")
    // greedy-equivalence on EVERY row against an INDEPENDENT target
    // greedy decode: the target's verification argmax t1 must equal
    // its own greedy first token (session logits == full forward),
    // and where the draft's first token was accepted, t2 must equal
    // the greedy second token — the q212 spec property, distributed
    val tg = graft.torch.Torch.generateGreedy(toks2, "d_ids",
        "tg", bcC, steps = 2, batchSize = 512, srcCol = "s_ids")
      .select(col("doc_id"), col("tg"))
    val joined = spec.join(tg, "doc_id").cache()
    val viol = joined.filter(col("t1") =!= col("tg")(0)).count() +
      joined.filter(col("t1") === col("draft")(0) &&
        col("t2") =!= col("tg")(1)).count()
    require(viol == 0, s"greedy-equivalence violated on $viol rows")
    joined.unpersist()
    val acc = spec.agg(
      sum(when(col("t1") === col("draft")(0), 1L).otherwise(0L)).as("a1"),
      sum(when(col("t1") === col("draft")(0) &&
        col("t2") === col("draft")(1), 1L).otherwise(0L)).as("a2")).head()
    println(s"[stress] speculative acceptance: >=1 token ${acc.getLong(0)}, " +
      s"both ${acc.getLong(1)} of 500000")
    require(acc.getLong(0) > 0 && acc.getLong(0) < 500000L,
      "degenerate acceptance — draft always/never agrees")
    spec.unpersist()

    // ---- 3. decode-knob legs at 500k single-stream rows ------------
    val gm = SparkEntry.genModel
    val bcG = spark.sparkContext.broadcast(gm)
    val gvocab = gm.seqHead.get.vocab
    val toks1 = spark.range(500000L).select(col("id").as("doc_id"),
      transform(sequence(lit(0), lit(11)),
        i => pmod(col("id") * 131L + i * 37L, lit(gvocab.toLong))).as("tok_ids"))
    val topk = graft.torch.Torch.generateSampled(toks1, "doc_id", "tok_ids",
        "gen", bcG, steps = 2, temperature = 0.5, topP = 0.9,
        batchSize = 512, topK = 3)
      .select(col("doc_id"), col("gen")).cache()
    require(timed("top-k sampling, 500k rows")(topk.count()) == 500000L,
      "top-k dropped rows")
    val slice = toks1.filter(col("doc_id") % 100 === 0).repartition(8)
    val again = graft.torch.Torch.generateSampled(slice, "doc_id", "tok_ids",
        "gen", bcG, steps = 2, temperature = 0.5, topP = 0.9,
        batchSize = 512, topK = 3)
      .select(col("doc_id"), col("gen").as("gen2"))
    require(topk.join(again, "doc_id").filter(col("gen") =!= col("gen2"))
      .count() == 0, "top-k sampling not reproducible under repartitioning")
    topk.unpersist()

    val norep = graft.torch.Torch.generateGreedy(toks1, "tok_ids", "gen", bcG,
        steps = 3, batchSize = 512, repetitionPenalty = 1.25, noRepeatNgram = 2)
      .select(col("doc_id"), col("tok_ids"), col("gen"))
    require(timed("norepeat greedy, 500k rows")(norep.count()) == 500000L,
      "norepeat dropped rows")

    val beams = graft.torch.Torch.beamSearch(toks1, "tok_ids", "beams", bcG,
        steps = 2, width = 2, batchSize = 512, lengthPenalty = 0.5, eosId = 1)
      .select(col("doc_id"), col("beams")).cache()
    require(timed("length-normalized EOS beams 2x2, 500k rows")(beams.count())
      == 500000L, "beams dropped rows")
    // a completed beam never expands past its eos
    val past = beams.select(explode(col("beams")).as("b"))
      .filter(size(col("b")) === 2 && col("b")(0) === 1).count()
    require(past == 0, s"$past beams expanded past their eos")
    val done = beams.select(explode(col("beams")).as("b"))
      .filter(size(col("b")) === 1).count()
    println(s"[stress] completed beams at 500k: $done")
    require(done > 0, "eos never completed a beam at scale")
    beams.unpersist()

    // ---- 3b. ingestion ops at 500k rows -----------------------------
    // chunking: 500k synthetic ~40-token docs -> windows; coverage is
    // exact by construction (chunk counts restated client-side)
    val texts = spark.range(500000L).select(col("id").as("doc_id"),
      array_join(transform(sequence(lit(0), pmod(col("id"), lit(50)) + 4),
        i => concat(lit("t"), pmod(col("id") * 31L + i, lit(977)))), " ")
        .as("text"))
    val chunks = graft.operators.TextOps
      .chunkTokens(texts, "doc_id", "text", window = 16, stride = 12)
    val nCh = timed("token chunking, 500k docs")(chunks.count())
    val expCh = spark.range(500000L).select(
      (pmod(col("id"), lit(50)) + 5).as("L"))
      .select(when(col("L") <= 16, 1L)
        .otherwise(floor((col("L") - 16 + 11) / 12).cast("long") + 1).as("nc"))
      .agg(sum("nc")).head().getLong(0)
    require(nCh == expCh, s"chunk count $nCh != expected $expCh")

    // dHash dedup: 500k random md5-pixel images + 5k planted one-pixel
    // copies -> the banded join must find EXACTLY the planted pairs
    val synth = udf((id: Long, pert: Int) => {
      val src = if (pert == 1) id - 10000000L else id
      val px = Array.tabulate(72) { i =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$src:$i".getBytes("UTF-8"))
        val hex = md.take(4).map(b => f"$b%02x").mkString
        val base = (java.lang.Long.parseLong(hex, 16) % 256).toByte
        if (pert == 1 && i == 40) ((base & 0xff) + 17).toByte else base
      }
      px
    })
    val ids = spark.range(500000L).select(col("id").as("img_id"), lit(0).as("pert"))
      .unionByName(spark.range(5000L)
        .select((col("id") + 10000000L).as("img_id"), lit(1).as("pert")))
    val fps = graft.operators.Multimodal.dHash64(
      ids.select(col("img_id"), synth(col("img_id"), col("pert")).as("pixels")),
      "pixels", "fp")
    val dpairs = graft.operators.Dedup
      .hammingPairs64(fps, "img_id", "fp", maxHamming = 3).cache()
    val nP = timed("dHash banded near-dup join, 505k images")(dpairs.count())
    val planted = dpairs.filter(col("b") - col("a") === 10000000L).count()
    println(s"[stress] dHash pairs: $nP total, $planted planted of 5000")
    require(planted == 5000L, s"missed planted image pairs: $planted")
    require(nP - planted <= 5L, s"organic dHash collisions exploded: ${nP - planted}")
    dpairs.unpersist()

    // ---- 4. ALiBi/causal-window KV-session A/B (driver) ------------
    val am = SparkEntry.alibiLmModel
    require(am.cacheable, "banded-bias LM must session")
    val avocab = am.seqHead.get.vocab
    val prompts = Array.tabulate(20000)(i =>
      Array.tabulate(12)(j => ((i * 131 + j * 37) % avocab)))
    def argmaxF(l: Array[Float]): Int = {
      var b = 0
      var j = 1
      while (j < l.length) { if (l(j) > l(b)) b = j; j += 1 }
      b
    }
    val cached = timed("ALiBi KV-session 4-step decode, 20k rows (driver)") {
      prompts.map { p =>
        val s = am.decodeSession(p)
        (1 to 4).map { _ =>
          val tid = argmaxF(s.logits()); s.append(tid); tid
        }
      }
    }
    val recomputed = timed("ALiBi full-recompute 4-step decode, 20k rows (driver)") {
      prompts.map { p =>
        var cur = p
        (1 to 4).map { _ =>
          val tid = argmaxF(am.forwardTokens(cur)); cur = cur :+ tid; tid
        }
      }
    }
    require(cached.zip(recomputed).forall { case (a, b) => a == b },
      "banded-bias KV-cache trajectory diverged from the recompute path")

    println("[stress] StressR18 PASS")
    spark.stop()
  }
}
