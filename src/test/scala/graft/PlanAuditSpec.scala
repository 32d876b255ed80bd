package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TokCount

/**
 * Mechanized `.explain` audit: the plan shapes that matter at 100 TB,
 * asserted on the real driver-contract queries so regressions in
 * pushdown / pruning / broadcast / top-k short-circuiting fail CI
 * rather than surfacing as cluster bills.
 */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  /** Every exchange in the plan. The input spread (graft.Spread)
    * strides a below-parallelism scan without a shuffle, and the final
    * sort merges at collect (graft.SmallSort), so neither adds one. The
    * final sort's execute path (a write, `.rdd`) over a many-partition
    * input shuffles, but chooses that exchange at run time, outside the
    * physical plan, so it is not counted here. */
  private def dataExchanges(p: String): Int = "Exchange".r.findAllIn(p).length

  test("q03 LIKE filter is pushed to the parquet scan") {
    val p = plan("q03_filter_like")
    assert(p.contains("PushedFilters: [IsNotNull(p_name), StringContains(p_name,widget)]"),
      s"filter not pushed:\n$p")
  }

  test("a strided kernel input keeps its simple predicates in the parquet scan") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val input = Tok.input(docs.where(col("doc_id") > 10), 256, minTokens = 2)
    val stride = input.queryExecution.optimizedPlan.collectFirst { case s: Stride => s }
    assert(stride.isDefined, s"input not strided:\n${input.queryExecution.optimizedPlan}")
    val p = input.queryExecution.executedPlan.toString
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("GreaterThan(doc_id,10)"), s"predicate not pushed past the stride:\n$p")
    // the token-count filter is no source filter: it stays above the
    // stride, evaluated once per row
    assert(!stride.get.child.exists(_.expressions.exists(_.exists(_.isInstanceOf[TokCount]))),
      s"token count below the stride:\n${input.queryExecution.optimizedPlan}")
  }

  test("q02 scan reads only the projected columns") {
    val p = plan("q02_project_alias_limit")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_extendedprice"))
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_comment"),
      s"scan reads unneeded columns: $readSchema")
  }

  test("q06 dimension joins broadcast (no fact-side shuffle for the join)") {
    val p = plan("q06_join_agg_revenue")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dim join fell back to SMJ:\n$p")
  }

  test("q07 top-k uses TakeOrderedAndProject, not a global sort") {
    val p = plan("q07_topk_customers")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("q05 aggregation is partial (map-side combine before the shuffle)") {
    val p = plan("q05_agg_pricing")
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"no partial aggregation:\n$p")
  }

  test("whole-stage codegen covers the scan-project-filter pipelines") {
    // executedPlan.toString marks codegen stages with a "*(n)" prefix
    val p = plan("q02_project_alias_limit")
    assert(p.contains("*("), s"no codegen spans:\n$p")
  }

  test("q91/q98 full-table windows are block-partitioned, not stratum-serial") {
    // the running aggregates over the DATA must be keyed by
    // (stratum, __blk) — a window keyed by the 3-5-value stratum alone
    // serializes a 100 TB scan onto 3-5 tasks. (The per-block offset
    // window IS stratum-keyed, but runs over the <=65536-row counts
    // aggregate — filter it out by the columns it aggregates.)
    val p91 = plan("q91_token_budget")
    val w91 = p91.linesIterator
      .filter(l => l.contains("windowspecdefinition") && l.contains("sum(__tok")).toList
    assert(w91.nonEmpty, s"q91 running-sum window missing:\n$p91")
    assert(w91.forall(_.contains("__blk")),
      s"q91 full-table window not block-partitioned:\n${w91.mkString("\n")}")
    val p98 = plan("q98_curriculum")
    val w98 = p98.linesIterator.filter(_.contains("row_number")).toList
    assert(w98.nonEmpty, s"q98 row_number window missing:\n$p98")
    assert(w98.forall(_.contains("__blk")),
      s"q98 row_number window not block-partitioned:\n${w98.mkString("\n")}")
  }

  test("q53 IN subquery executes as a join, not a per-row subquery") {
    val p = plan("q53_in_subquery")
    assert(p.contains("Join") || p.contains("BroadcastHashJoin"),
      s"IN subquery not joined:\n$p")
    assert(!p.contains("InSubquery"), s"unrewritten IN subquery:\n$p")
  }

  test("q54 correlated scalar subqueries are decorrelated into aggregates + joins") {
    val p = plan("q54_scalar_subquery")
    assert(!p.toLowerCase.contains("scalarsubquery"),
      s"subquery survived decorrelation (per-row execution):\n$p")
    assert(p.contains("HashAggregate"), s"expected decorrelated aggregate:\n$p")
  }

  test("q57 interval join stays an equi-join (no cartesian/NLJ)") {
    val p = plan("q57_range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"range join fell back to a product plan:\n$p")
  }

  test("q63 mix-rebalance ships rates via broadcast, not a shuffle of the corpus") {
    val p = plan("q63_mix_rebalance")
    assert(p.contains("BroadcastHashJoin"), s"rate table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for the rate join:\n$p")
  }

  test("q77 SHUFFLE_HASH hint forces the customer join off the broadcast path") {
    val p = plan("q77_join_hint")
    assert(p.contains("ShuffledHashJoin"), s"hint ignored:\n$p")
  }

  test("capstone pipelines (q52, q75) contain no cartesian products") {
    // BroadcastNestedLoopJoin IS allowed: Mix.rebalance's one-row
    // `crossJoin(broadcast(T))` (the scalar-broadcast pattern, like
    // q51's quartile bounds) plans as a broadcast NLJ against a
    // single-row aggregate — constant cost by construction. What must
    // never appear is a non-broadcast CartesianProduct of data-sized
    // sides.
    for (q <- Seq("q52_training_pipeline", "q75_retrieval_prep")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian:\n$p")
    }
  }

  test("q64 decontamination joins are keyed (no product plans)") {
    val p = plan("q64_decontam")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"decontamination produced a product plan:\n$p")
  }

  test("mapPartitions operators stay in one plan (no ExistingRDD rescan)") {
    // Torch.inferBatched and the Multimodal operators formerly dropped
    // to df.rdd + createDataFrame, splitting the query into two jobs
    // with a serialized-Row boundary; the typed mapPartitions path
    // must keep the parquet scan in the SAME plan.
    // q126/q128 chain TWO mapPartitions stages (codec synth/decode ->
    // features / inference) — still one plan, one file scan
    for (q <- Seq("q26_multimodal_meta", "q28_torch_batched",
        "q126_audio_features", "q128_torch_conv2d", "q131_torch_resnet",
        "q133_video_meta", "q134_lm_perplexity", "q136_torch_cls",
        "q137_video_frames", "q138_torch_decoder", "q139_torch_sinpe",
        "q140_torch_depthwise", "q141_audio_g711", "q142_torch_stacked_gru",
        "q143_torch_bigru", "q144_torch_gru_meanpool", "q147_torch_mha",
        "q149_torch_bilstm", "q156_torch_padded", "q159_torch_tcn",
        "q161_torch_causal_tcn", "q162_torch_attn_pool",
        "q166_torch_alibi", "q169_torch_rope", "q171_torch_gqa")) {
      val p = plan(q)
      assert(!p.contains("Scan ExistingRDD"), s"$q re-scans a materialized RDD:\n$p")
      assert(p.contains("MapPartitions"), s"$q lost its mapPartitions stage:\n$p")
      assert(p.contains("Scan parquet") || p.contains("FileScan"),
        s"$q lost its direct file scan:\n$p")
    }
  }

  test("q125 hybrid retrieval: stats broadcast, top-k short-circuits, no product of data sides") {
    val p = plan("q125_hybrid_rrf")
    // the BM25 corpus-stats row and the dense query vector ride
    // broadcasts; candidate ranking plans as TakeOrderedAndProject
    // (never a global sort of the corpus)
    assert(p.contains("TakeOrderedAndProject"), s"q125 lost its top-k short-circuit:\n$p")
    assert(!p.contains("CartesianProduct"), s"q125 has a non-broadcast product:\n$p")
    assert(p.contains("BroadcastExchange"), s"q125 lost its broadcasts:\n$p")
  }

  test("q145 cross-encoder rerank: BM25 top-k short-circuits, candidates broadcast, no cartesian") {
    val p = plan("q145_cross_encoder")
    // candidate selection must be TakeOrderedAndProject (never a global
    // sort of the corpus), the 20-row candidate set rides a broadcast
    // back to documents, and the encoder stage is the usual one-plan
    // mapPartitions
    assert(p.contains("TakeOrderedAndProject"), s"q145 lost its top-k short-circuit:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"q145 candidate join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"q145 has a cartesian:\n$p")
    assert(p.contains("MapPartitions"), s"q145 lost its inference stage:\n$p")
    assert(!p.contains("Scan ExistingRDD"), s"q145 re-scans a materialized RDD:\n$p")
  }

  test("round-11 pipeline queries: no data-sized cartesian products") {
    // q150's corpus x broadcast-query-set BroadcastNestedLoopJoin is
    // the documented bounded brute-force shape (q24); what must never
    // appear anywhere is a non-broadcast CartesianProduct.
    for (q <- Seq("q146_centroid_classify", "q148_wordpiece",
        "q150_knn_classify", "q151_blocklist", "q152_pagerank",
        "q153_bigram_lm", "q154_ingest_v2", "q157_sentencepiece",
        "q160_pagerank_dangling")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian:\n$p")
    }
  }

  test("q129 containment pairs stay inverted-index keyed (no product plans)") {
    val p = plan("q129_containment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment produced a product plan:\n$p")
  }

  test("q158 filtered ANN: metadata predicate sits below the shortlist ranking") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding", "label")
    val ix = operators.Similarity.ivfPqTrain(emb, "embedding",
      dim = 64, nlist = 64, m = 8, ksub = 32)
    val codesMeta = operators.Similarity.ivfPqEncode(emb, "vec_id", "embedding", ix)
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
    val q = emb.filter(col("vec_id") < 20).select("vec_id", "embedding")
    val p = operators.Similarity.ivfPqTopKFiltered(codesMeta, q,
      "vec_id", "embedding", ix, k = 5, nprobe = 16, pred = col("label") % 3 === 0)
      .queryExecution.executedPlan.toString
    // the plan prints parents first: the label filter must appear
    // BELOW the rank window (inside its subtree), never above it
    val wIdx = p.indexOf("Window")
    val fIdx = p.indexOf("label")
    assert(wIdx >= 0, s"no rank window in the filtered-ANN plan:\n$p")
    assert(fIdx > wIdx, s"label predicate is not below the shortlist ranking:\n$p")
    assert(!p.substring(0, wIdx).contains("label"),
      s"label predicate leaked above the ranking:\n$p")
  }

  test("q93 bloom decontamination: no product plans, corpus scans keyed joins only") {
    val p = plan("q93_bloom_decontam")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"bloom decontamination produced a product plan:\n$p")
  }

  test("q94 train shuffle sorts within shards, never globally") {
    // the window must partition by shard: a global-order sort (empty
    // partition spec) would serialize the whole corpus through one task
    val p = plan("q94_train_shuffle")
    assert(!p.contains("Window [") || p.contains("windowspecdefinition(shard"),
      s"train shuffle lost its shard partitioning:\n$p")
    // the q94 query's final orderBy is presentation-only; inside the
    // operator the only exchange is the hash partition on shard
    assert(p.contains("hashpartitioning(shard"),
      s"train shuffle is not hash-partitioned by shard:\n$p")
  }

  test("semanticDedup pair work is cluster-keyed (no cartesian)") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val p = operators.Similarity.semanticDedup(
      emb, "vec_id", "embedding", threshold = 0.99, k = 4)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"semanticDedup has a cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"semanticDedup has an NLJ:\n$p")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // The 100 TB shape: a big fact shuffle-joined to a selectively-
    // filtered dimension. Spark's InjectRuntimeFilter can build a bloom
    // filter from the filtered dim and push it into the fact scan, so
    // most fact rows die before the exchange. Thresholds are production
    // defaults scaled to fixture size; broadcast is disabled because a
    // broadcast-hash-join plan already prunes via its own build side.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val ord = spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ord,
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        s"no runtime bloom filter injected:\n$p")
      // tree prints parent-first: the might_contain Filter printing
      // BELOW the fact-side exchange means it executes BEFORE it —
      // rows are pruned pre-shuffle. Guard the exchange index: a
      // missing substring returns -1 and would pass vacuously.
      val exchIdx = p.indexOf("Exchange hashpartitioning(l_orderkey")
      assert(exchIdx >= 0, s"fact-side exchange not found in plan:\n$p")
      assert(p.indexOf("might_contain") > exchIdx,
        s"bloom filter not pruning before the fact shuffle:\n$p")
      assert(joined.count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("q118 vector moments aggregate without exploding the embedding") {
    // the per-element Generate must appear only ABOVE the aggregate
    // (shaping the tiny per-group result), never below it — an explode
    // upstream of the aggregation is the 64x-row-traffic shape
    // VecStatsAgg exists to avoid
    // tree prints parent-first, so a Generate that EXECUTES before the
    // aggregate (bad) prints after it; the output-shaping Generate
    // (fine) prints before the first aggregate node
    val p = plan("q118_embed_stats")
    val firstAgg = p.indexOf("ObjectHashAggregate")
    assert(firstAgg >= 0, s"expected Aggregator plan:\n$p")
    val genPositions = "Generate".r.findAllMatchIn(p).map(_.start).toList
    assert(genPositions.nonEmpty && genPositions.forall(_ < firstAgg),
      s"explode upstream of the aggregation (row blowup before partial agg):\n$p")
  }

  test("q54's two identical correlated aggregates share one exchange") {
    // The SELECT arm and the WHERE arm state the same per-customer
    // aggregate; the plan must compute it once and reuse the exchange,
    // not run the aggregation twice. AQE inserts ReusedExchange during
    // execution, so run the query and audit the FINAL adaptive plan.
    val df = SparkEntry.queries("q54_scalar_subquery")(spark, sfDir)
    df.collect() // count() would build a NEW QueryExecution; collect
    // executes THIS dataset's plan so its AQE run finalizes
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), s"adaptive plan did not finalize:\n$p")
    assert(p.contains("ReusedExchange"), s"aggregate computed twice:\n$p")
  }

  test("round-13 LM statistics queries: keyed joins only, one-row totals the sole BNLJ") {
    // q168 (DSIR) and q170 (KN) broadcast exactly ONE one-row totals
    // aggregate via crossJoin; every data-shaped join is keyed on the
    // word/bigram — a second product plan would be a corpus x corpus
    // blow-up at scale
    for (q <- Seq("q168_dsir_select", "q170_kn_bigram")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian:\n$p")
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
      assert(bnlj == 1, s"$q: expected exactly 1 one-row-totals BNLJ, got $bnlj:\n$p")
    }
    // q167 (CCNet buckets): the ranking is ONE window, and no product
    // plans anywhere
    val p167 = plan("q167_ppl_buckets")
    assert(!p167.contains("CartesianProduct") &&
      !p167.contains("BroadcastNestedLoopJoin"),
      s"q167 produced a product plan:\n$p167")
    assert("Window".r.findAllIn(p167).length == 1,
      s"q167: expected exactly one ranking window:\n$p167")
  }

  test("round-13 second wave: map-stage ops have ZERO exchanges; keyed ops exactly one") {
    // FIM, SFT rendering, char entropy, span corruption: pure
    // scan-side HOF projections — ANY exchange is a regression
    for (q <- Seq("q184_fim", "q186_char_entropy", "q188_sft_render")) {
      val p = plan(q)
      // the final orderBy merges at collect: no exchange at all
      val ex = dataExchanges(p)
      assert(ex == 0, s"$q: map-stage op shuffled ($ex):\n$p")
      assert(!p.contains("CartesianProduct"), s"$q cartesian:\n$p")
    }
    // preference pairs: ONE hash-partitioning exchange on the prompt
    // key (the output sort merges at collect); the struct min/max must partial-agg
    val pp = plan("q183_dpo_pairs")
    assert("Exchange hashpartitioning".r.findAllIn(pp).length == 1,
      s"q183: expected one keyed exchange:\n$pp")
    assert(pp.contains("partial_"), s"q183: no map-side partial agg:\n$pp")
    // reward norm: one window over the prompt key, no product plans
    val rn = plan("q193_reward_norm")
    assert("Window".r.findAllIn(rn).length == 1 &&
      !rn.contains("CartesianProduct"), s"q193 plan:\n$rn")
  }

  test("round-14 decode/cross family: scan-side mapPartitions, the output sort the only exchange") {
    // cross-attention inference (q202), sampled decoding (q203), LoRA
    // classifier (q204), encoder-decoder generation (q206): one
    // broadcast-weights mapPartitions over the strided documents scan,
    // and the final orderBy merges at collect: no exchange at all — any
    // shuffle (or a second scan / rescan boundary) is a regression of
    // the batched-inference shape
    for (q <- Seq("q202_torch_crossattn", "q203_torch_gen_sampled",
        "q204_torch_lora", "q206_torch_cross_gen", "q210_seq2seq_filter")) {
      val p = plan(q)
      val ex = dataExchanges(p)
      assert(ex == 0, s"$q: decode op shuffled ($ex):\n$p")
      assert(!p.contains("CartesianProduct"), s"$q cartesian:\n$p")
      assert("Scan parquet".r.findAllIn(p).length <= 1,
        s"$q: expected at most one parquet scan:\n$p")
    }
  }

  test("round-15 decode knobs: same scan-side shape — output sort the only exchange") {
    // top-k sampling (q211), cross speculative (q212 — THREE chained
    // pair inferences still one mapPartitions pipeline, no mid-plan
    // shuffle), norepeat greedy (q213), length-normalized EOS beams
    // (q214), banded-bias KV-session decode (q215): the k-step loops
    // and chained verifications live inside scan-side mapPartitions;
    // nothing exchanges: the final orderBy merges at collect
    for (q <- Seq("q211_torch_gen_topk", "q212_torch_cross_spec",
        "q213_torch_gen_norepeat", "q214_torch_beam_lennorm",
        "q215_torch_alibi_decode", "q216_torch_sampled_norepeat",
        "q217_torch_gen_eos", "q218_torch_gen_minp",
        "q219_torch_gen_dfa", "q220_torch_cross_knobs",
        "q221_torch_cross_eos", "q227_torch_gen_badwords")) {
      val p = plan(q)
      val ex = dataExchanges(p)
      assert(ex == 0, s"$q: decode op shuffled ($ex):\n$p")
      assert(!p.contains("CartesianProduct"), s"$q cartesian:\n$p")
      assert("Scan parquet".r.findAllIn(p).length <= 1,
        s"$q: expected at most one parquet scan:\n$p")
    }
  }

  test("round-16 decode knobs + diversity gate: scan-side, output sort the only exchange") {
    // typical sampling (q234), forced/begin-suppress (q235), diverse
    // beam groups (q236 — groups×width KV sessions still ONE
    // mapPartitions, groups exchange nothing), the Distinct-n
    // self-diversity gate (q237 — the aggregation is per-row over the
    // k generations, no keyed shuffle): same no-exchange contract as
    // the round-15 knob wave
    // q239 watermarked decode and q240 detection share the contract:
    // q240's pair walk is a scan-side zip_with (no self-join — the
    // oracle's pos+1 join is the RESTATEMENT, not the plan)
    // q241 contrastive search: the k-fork look-ahead per step is still
    // session work inside the one mapPartitions — nothing exchanges
    for (q <- Seq("q234_torch_gen_typical", "q235_torch_gen_forced",
        "q236_torch_beam_diverse", "q237_gen_self_diversity",
        "q239_torch_gen_watermark", "q240_watermark_detect",
        "q241_torch_gen_contrastive", "q242_torch_gen_prefix_shared",
        "q243_torch_sampled_watermark", "q245_torch_self_consistency",
        "q247_torch_spec_sampled", "q248_torch_contrastive_decoding")) {
      val p = plan(q)
      val ex = dataExchanges(p)
      assert(ex == 0, s"$q: decode op shuffled ($ex):\n$p")
      assert(!p.contains("CartesianProduct"), s"$q cartesian:\n$p")
      assert("Scan parquet".r.findAllIn(p).length <= 1,
        s"$q: expected at most one parquet scan:\n$p")
    }
    // q244 best-of-n: generation + rescoring are scan-side; the ONLY
    // exchange is the per-doc ranking window — never a cartesian, one
    // parquet scan
    val p244 = plan("q244_torch_best_of_n")
    assert(!p244.contains("CartesianProduct"), s"q244 cartesian:\n$p244")
    assert(p244.contains("Window") && p244.contains("row_number"),
      s"q244 lost its ranking window:\n$p244")
    assert("Scan parquet".r.findAllIn(p244).length <= 1,
      s"q244: expected at most one parquet scan:\n$p244")
    assert(dataExchanges(p244) <= 2,
      s"q244 shuffled beyond its window:\n$p244")
    // q238 A-ES weighted sampling: the pick must be a per-partition
    // top-n (TakeOrderedAndProject), never a full global sort of the
    // corpus by key
    val p238 = plan("q238_weighted_sample")
    assert(p238.contains("TakeOrderedAndProject"),
      s"q238 weighted sample is not a TakeOrderedAndProject:\n$p238")
    assert(!p238.contains("CartesianProduct"), s"q238 cartesian:\n$p238")
  }

  test("round-15 ingestion ops: chunking is scan-side; the dHash join is banded, never a product") {
    // q222: tokenize + ONE posexplode, the output sort merged at
    // collect — any exchange means the chunker started shuffling text
    val p222 = plan("q222_chunk_windows")
    assert(dataExchanges(p222) == 0,
      s"q222 chunker shuffled:\n$p222")
    assert("Generate".r.findAllIn(p222).length == 1,
      s"q222: expected exactly one explode:\n$p222")
    // q223: the hamming-banded self-join — keyed exchanges are the
    // design; a CartesianProduct (all-pairs) is the regression
    val p223 = plan("q223_image_dhash_dedup")
    assert(!p223.contains("CartesianProduct") &&
      !p223.contains("BroadcastNestedLoopJoin"),
      s"q223 dHash join degenerated to all-pairs:\n$p223")
    // q224: chunk + entropy + a doc-keyed ranking window; no product
    // plans (the window node renders multiple "Window" tokens under
    // AQE, so pin presence + keying rather than a token count)
    val p224 = plan("q224_chunk_quality_gate")
    assert(!p224.contains("CartesianProduct"), s"q224 cartesian:\n$p224")
    assert(p224.contains("Window") && p224.contains("row_number"),
      s"q224 lost its ranking window:\n$p224")
  }

  test("round-17 decode ops: scan-side, output sort the only exchange") {
    // gamma speculative sampling (q249), diverse beams × eos/lennorm
    // (q250), watermark gamma=1/4 generate+detect (q251/q252),
    // contrastive beam decoding (q253), the speculative serving loop
    // (q254): all KV-session work inside ONE mapPartitions — the
    // same no-exchange / ≤1-scan / no-cartesian contract as every
    // decode wave before them
    for (q <- Seq("q249_torch_spec_gamma", "q250_torch_beam_diverse_eos",
        "q251_torch_gen_watermark_g4", "q252_watermark_detect_g4",
        "q253_torch_cd_beam", "q254_torch_spec_loop",
        "q256_torch_spec_selfdraft", "q258_torch_cross_spec_sampled",
        "q260_torch_beam_watermark", "q261_torch_cross_spec_gamma")) {
      val p = plan(q)
      val ex = dataExchanges(p)
      assert(ex == 0, s"$q: decode op shuffled ($ex):\n$p")
      assert(!p.contains("CartesianProduct"), s"$q cartesian:\n$p")
      assert("Scan parquet".r.findAllIn(p).length <= 1,
        s"$q: expected at most one parquet scan:\n$p")
    }
    // q255 incremental-ingest gate: keyed joins + one-row broadcast
    // combines only — never a cartesian (the one-row crossJoins plan
    // as broadcast NLJs by design, like q228's agreement gate)
    val p255 = plan("q255_ann_index_append")
    assert(!p255.contains("CartesianProduct"), s"q255 cartesian:\n$p255")
  }

  test("round-18 draft-acceleration ops: scan-side, output sort the only exchange") {
    // prompt-lookup decoding (q262) and tree-draft speculative
    // decoding (q263): the lookup is an in-row integer scan and the
    // tree is session forks — everything inside ONE mapPartitions,
    // same no-exchange / ≤1-scan / no-cartesian contract
    // fused beams (q264) and watermarked diverse beams (q265) join
    // the same contract: the bigram collect is vocab²-bounded and
    // the beam work is session forks in one mapPartitions
    for (q <- Seq("q262_torch_prompt_lookup", "q263_torch_tree_draft",
        "q264_torch_beam_fused", "q265_torch_beam_diverse_watermark",
        "q266_torch_prompt_lookup_loop", "q268_torch_sampled_fused",
        "q269_torch_spec_multidraft", "q271_torch_beam_fused_watermark",
        "q272_torch_tree_loop", "q273_torch_tree_selfdraft",
        "q274_torch_prompt_lookup_sampled",
        "q275_torch_spec_multidraft_loop",
        "q276_torch_beam_diverse_fused", "q277_torch_tree_typical")) {
      val p = plan(q)
      val ex = dataExchanges(p)
      assert(ex == 0, s"$q: decode op shuffled ($ex):\n$p")
      assert(!p.contains("CartesianProduct"), s"$q cartesian:\n$p")
      assert("Scan parquet".r.findAllIn(p).length <= 1,
        s"$q: expected at most one parquet scan:\n$p")
    }
    // DELIBERATELY EXEMPT from the no-exchange bound: the telemetry
    // queries q259/q267/q270 (and round-19's q283) GROUP BY over the
    // decode output — the aggregation exchange is inherent to a
    // corpus-level histogram, not a decode-plan regression. If a
    // future tightening sweeps these in, assert ≤2 exchanges there
    // instead of silently skipping them.
  }

  test("round-19 serving ops: scan-side, output sort the only exchange") {
    // cross-pair speculative loop (q279), stochastic tree (q280),
    // watermarked speculative (q281), bounded-KV greedy (q282): all
    // KV-session work inside ONE mapPartitions — the standing
    // no-exchange / ≤1-scan / no-cartesian decode contract. q283
    // (auto-gamma) is telemetry (GROUP BY over decode output — see
    // the exemption note above): its extra aggregate exchange is
    // inherent, so it gets the ≤2 bound (partial/final agg + window)
    // and the no-cartesian check only.
    for (q <- Seq("q279_torch_cross_spec_loop", "q280_torch_tree_stochastic",
        "q281_torch_spec_watermark", "q282_torch_kv_window",
        "q284_torch_spec_loop_kv", "q285_torch_spec_loop_watermark",
        "q287_torch_tree_stochastic_loop", "q288_torch_spec_loop_wm_kv",
        "q292_torch_tree_typical_loop", "q293_torch_pair_loop_kv",
        "q295_torch_kv_relpos", "q296_torch_spec_loop_relpos",
        "q298_torch_lookup_loop_kv", "q299_torch_tree_loop_kv",
        "q301_torch_tree_greedy_loop_kv",
        "q302_torch_tree_typical_loop_kv",
        "q303_torch_lookup_loop_relpos",
        "q304_torch_tree_loop_relpos")) {
      val p = plan(q)
      val ex = dataExchanges(p)
      assert(ex == 0, s"$q: decode op shuffled ($ex):\n$p")
      assert(!p.contains("CartesianProduct"), s"$q cartesian:\n$p")
      assert("Scan parquet".r.findAllIn(p).length <= 1,
        s"$q: expected at most one parquet scan:\n$p")
    }
    val p283 = plan("q283_torch_auto_gamma")
    assert(dataExchanges(p283) <= 2,
      s"q283: telemetry plan grew beyond agg + pick window:\n$p283")
    assert(!p283.contains("CartesianProduct"), s"q283 cartesian:\n$p283")
    // q286/q289/q290/q291 are telemetry too (GROUP BYs over decode
    // output — q286 one histogram, q289 two corpus aggregates
    // unioned, q290 two sweeps + the pick window, q291 per-source +
    // corpus aggregates with a one-row broadcast combine)
    for ((q, bound) <- Seq(("q286_torch_pair_spec_telemetry", 1),
        ("q289_torch_wm_accel_detect", 3),
        ("q290_torch_auto_branch", 4),
        ("q291_torch_spec_drift", 4),
        // q297 auto-window: ONE scan prices the whole ladder (all
        // rungs decoded per row inside one mapPartitions); the
        // exchanges are the telemetry aggregate + pick window
        ("q297_torch_auto_window", 3))) {
      val p = plan(q)
      assert(dataExchanges(p) <= bound,
        s"$q: telemetry plan grew beyond its aggregates:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q cartesian:\n$p")
    }
    // q278 canary: the ANN leg must stay probe-bounded (keyed joins)
    // and the brute leg broadcast-bounded by the 20-query slice — a
    // CartesianProduct means a leg regressed to pair-everything
    val p278 = plan("q278_ann_recall_canary")
    assert(!p278.contains("CartesianProduct"), s"q278 cartesian:\n$p278")
    // q294 auto-nprobe: the whole sweep rides ONE probe-bounded
    // candidate pass (per-cell shortlist, checkpoint-backed) plus the
    // shared brute leg — like q278, telemetry-many exchanges are
    // inherent (per-rung rerank windows + the pick window) but a
    // CartesianProduct means a rung regressed to pair-everything
    val p294 = plan("q294_ann_auto_nprobe")
    assert(!p294.contains("CartesianProduct"), s"q294 cartesian:\n$p294")
    // q300 unions the three knob dashboards — telemetry-many
    // exchanges are inherent; only pair-everything would be a bug
    val p300 = plan("q300_serving_autoconf")
    assert(!p300.contains("CartesianProduct"), s"q300 cartesian:\n$p300")
  }

  test("q246 RAG retrieval leg is the IVFADC shortlist — no corpus-vs-queries NLJ") {
    // round-17 (VERDICT r16 item 1): the capstone's top-1 retrieval
    // must ride the probe-bounded shortlist + keyed rerank joins. A
    // BroadcastNestedLoopJoin or CartesianProduct means the brute
    // comparator crept back into the flagship composition.
    val p = plan("q246_rag_generate")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"q246 retrieval regressed to the brute comparator:\n$p")
  }

  test("marginMineAnn: no broadcast-NLJ / cartesian anywhere in the mining plan") {
    import org.apache.spark.sql.functions.col
    // the q228 GATE query deliberately also runs the brute comparator
    // (that's what it gates against), so audit the ANN miner's OWN
    // plan: batch-IVFADC legs — cell-keyed cogroups and keyed rerank
    // joins only. Any BroadcastNestedLoopJoin or CartesianProduct
    // means a candidate generator regressed to pair-everything.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val mined = graft.operators.Similarity.marginMineAnn(
      emb.filter(col("vec_id") % 2 === 0), emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", k = 4, threshold = 1.0,
      dim = 64, nlist = 16, m = 8, ksub = 32, nprobe = 14, shortlist = 100)
    val p = mined.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"marginMineAnn has a broadcast nested-loop:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"marginMineAnn has a cartesian:\n$p")
  }

  test("q233 shortlisted MaxSim: scan-side candidate filter, top-k short-circuits, no products") {
    val p = plan("q233_maxsim_ann")
    // the shortlist lands as a literal arrays_overlap filter on the
    // documents scan (stage 2 touches only shortlist rows); the final
    // top-10 short-circuits; nothing data-sized is pair-joined
    assert(p.contains("arrays_overlap"),
      s"q233 lost its scan-side shortlist filter:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"q233 top-k is not a TakeOrderedAndProject:\n$p")
    assert(!p.contains("CartesianProduct"), s"q233 cartesian:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"q233: the rerank must read the corpus exactly once:\n$p")
  }

  test("round-13 PCA family: the Gram pass is one partial/final aggregate, nothing row-shaped exchanged") {
    import org.apache.spark.sql.functions.col
    // the fit itself runs eagerly inside the query builder, so audit
    // the aggregation frame directly: partial (map-side) combine, a
    // single-partition exchange carrying ONE buffer per task, and no
    // explode — the triangle buffer IS the fan-out
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val g = emb.agg(graft.operators.Pca.gram_stats(col("embedding"), 64).as("g"))
    val p = g.queryExecution.executedPlan.toString
    assert(p.contains("partial_"), s"Gram pass does not partial-aggregate:\n$p")
    assert(!p.toLowerCase.contains("explode"), s"Gram pass exploded:\n$p")
    assert("Exchange".r.findAllIn(p).length == 1,
      s"Gram pass: expected one single-partition exchange:\n$p")
    // the projection query itself: scan-side HOFs, the output sort
    // merged at collect
    val pq = plan("q182_pca_top")
    assert(!pq.contains("CartesianProduct") &&
      "Exchange".r.findAllIn(pq).length == 0,
      s"q182 projection is not scan-side:\n$pq")
  }

  test("torch token ids: one native tok_ids per plan, no md5 idiom on the engine side") {
    // the cheap tok_count filter sits in front of the projection, so
    // Catalyst has no `size(tok_ids)` predicate to push through it
    // with the hashing expression substituted in (a second hash pass)
    for (q <- Seq("q107_torch_embedding", "q113_torch_textcnn", "q194_torch_generate")) {
      val p = plan(q)
      assert("tok_ids\\(".r.findAllIn(p).length == 1,
        s"$q must hash each row's tokens exactly once:\n$p")
      assert(!p.contains("md5") && !p.contains("lambdafunction"),
        s"$q still carries the md5/transform idiom:\n$p")
    }
    // q257 decodes from the checkpoint its bigram-count collect fills, so
    // its hashing sits in the plan that fills the checkpoint: across
    // every plan that building and collecting q257 executes, still
    // exactly one tok_ids
    val ps = executedPlans(SparkEntry.queries("q257_torch_gen_fused")(spark, sfDir))
    assert(ps.length >= 3, s"q257: expected checkpoint, count and decode plans:\n${ps.mkString("\n\n")}")
    assert(ps.map("tok_ids\\(".r.findAllIn(_).length).sum == 1,
      s"q257 must hash each row's tokens exactly once:\n${ps.mkString("\n\n")}")
    // (the count plan's one lambda is the zip_with that pairs adjacent ids)
    assert(!ps.exists(_.contains("md5")) &&
      !ps.filterNot(_.contains("zip_with")).exists(_.contains("lambdafunction")),
      s"q257 still carries the md5/transform idiom:\n${ps.mkString("\n\n")}")
  }

  /** The optimized plan of every query execution that building `df`
    * (the `=> DataFrame`) and collecting it runs, in order. */
  private def executedPlans(df: => DataFrame): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val d = df
      d.collect()
      // listener events are delivered in order: once the final collect's
      // arrives, every earlier execution's has
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.asScala.exists(_ eq d.queryExecution) && System.nanoTime() < deadline)
        Thread.sleep(20)
      seen.asScala.toSeq.map(_.optimizedPlan.toString)
    } finally spark.listenerManager.unregister(listener)
  }
}
