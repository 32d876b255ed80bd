package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Round-14 encoder-decoder decode stress — the cross family at 1000x
 * the fixture scale:
 *
 *  1. Greedy cross decode (q206's shape) over 500k (2-token prompt,
 *     12-token source) pairs: per-row KV sessions inside ONE
 *     mapPartitions — the encoder leg and cross k/v project once per
 *     row; every row emits exactly `steps` tokens.
 *  2. Sampled cross decode over the same rows: seeded draws — the
 *     output must be EXACTLY reproducible run-to-run and across
 *     repartitionings (spot-checked by re-running a 1%% slice).
 *  3. Cross beam search 2x2: forked sessions; beam-1's step-1 token
 *     must equal the step-1 top log-prob (== greedy's first token) on
 *     EVERY row.
 *
 * Run: SPARK_DRIVER_MEM=28g sbt "Test/runMain graft.StressR17"
 */
object StressR17 {

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

    val m = SparkEntry.crossGenModel
    val bc = spark.sparkContext.broadcast(m)
    val dvocab = m.seqHead.get.vocab
    val kvocab = m.encHead.get.vocab
    val toks = spark.range(500000L).select(col("id").as("doc_id"),
      transform(sequence(lit(0), lit(1)),
        i => pmod(col("id") * 17L + i * 5L, lit(dvocab.toLong))).as("d_ids"),
      transform(sequence(lit(0), lit(11)),
        i => pmod(col("id") * 131L + i * 37L, lit(kvocab.toLong))).as("s_ids"))

    val greedy = graft.torch.Torch.generateGreedy(toks, "d_ids",
        "gen", bc, steps = 2, batchSize = 512, srcCol = "s_ids")
      .select(col("doc_id"), col("gen")).cache()
    val nG = timed("greedy cross decode, 500k x (2 + 12) tokens")(greedy.count())
    require(nG == 500000L, s"greedy cross dropped rows: $nG")
    require(greedy.filter(size(col("gen")) =!= 2).count() == 0, "short generations")

    val sampled = graft.torch.Torch.generateSampled(toks, "doc_id",
        "d_ids", "gen", bc, steps = 2,
        temperature = 0.5, topP = 0.9, batchSize = 512, srcCol = "s_ids")
      .select(col("doc_id"), col("gen")).cache()
    require(timed("sampled cross decode, 500k rows")(sampled.count()) == 500000L,
      "sampled cross dropped rows")
    // seeded determinism: a repartitioned 1% slice reproduces exactly
    val slice = toks.filter(col("doc_id") % 100 === 0).repartition(8)
    val again = graft.torch.Torch.generateSampled(slice, "doc_id",
        "d_ids", "gen", bc, steps = 2,
        temperature = 0.5, topP = 0.9, batchSize = 512, srcCol = "s_ids")
      .select(col("doc_id"), col("gen").as("gen2"))
    val diff = sampled.join(again, "doc_id")
      .filter(col("gen") =!= col("gen2")).count()
    require(diff == 0, s"sampled cross decode not reproducible on $diff rows")

    val beams = graft.torch.Torch.beamSearch(toks, "d_ids",
        "beams", bc, steps = 2, width = 2, batchSize = 512, srcCol = "s_ids")
      .select(col("doc_id"), col("beams")).cache()
    require(timed("cross beam search 2x2, 500k rows")(beams.count()) == 500000L,
      "cross beams dropped rows")
    // step-1 top log-prob == greedy's first token on every row: the
    // final beam-1 may legitimately rerank, but SOME beam must start
    // with the greedy token (it seeds the width-2 frontier)
    val noGreedy = beams.join(greedy, "doc_id")
      .filter(col("beams")(0)(0) =!= col("gen")(0) &&
        col("beams")(1)(0) =!= col("gen")(0)).count()
    require(noGreedy == 0,
      s"greedy step-1 token missing from the beam frontier on $noGreedy rows")

    println("[stress] StressR17 PASS")
    spark.stop()
  }
}
