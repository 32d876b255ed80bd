package graft.streaming

import graft.SparkTestSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DocStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("streaming drift PSI across micro-batches == batch q121 on the same rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val raw = spark.read.parquet(s"$sfDir/documents.parquet")

    // gate setup, FROZEN from the reference (even-doc_id) shard with
    // exactly q121's expressions: dyadic octile bounds + base counts
    val bounds = raw.filter(col("doc_id") % 2 === 0)
      .agg(expr("percentile(n_chars, array(0.125D, 0.25D, 0.375D, 0.5D, " +
        "0.625D, 0.75D, 0.875D))").as("bs"))
      .collect()(0).getSeq[Double](0).toSeq
    val bs = array(bounds.map(lit): _*)
    val baseCounts = raw.filter(col("doc_id") % 2 === 0)
      .withColumn("bucket", size(filter(bs, bd => col("n_chars").cast("double") > bd)))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq

    // the candidate (odd) shard arrives as a stream in 3 micro-batches
    val cand = raw.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id").cast("long"), col("n_chars").cast("long"))
      .as[(Long, Long)].collect().toSeq
    val mem = MemoryStream[(Long, Long)]
    val q = DocStream.driftBucketCounts(
      mem.toDF().toDF("doc_id", "n_chars"), "n_chars", bounds)
      .writeStream.outputMode("complete").format("memory")
      .queryName("drift_out").start()
    try {
      for (chunk <- cand.grouped((cand.size + 2) / 3)) {
        mem.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = DocStream.psiVsBase(spark.table("drift_out"), baseCounts)
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val batch = graft.SparkEntry.queries("q121_drift_psi")(spark, sfDir)
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == batch,
        s"stream-only: ${(streamed -- batch).take(3)}; batch-only: ${(batch -- streamed).take(3)}")
      assert(streamed.nonEmpty)
      // the drift state is the bucket-count table itself: |bounds|+1
      // rows max, regardless of how much data streamed through
      assert(spark.table("drift_out").count() <= bounds.size + 1)
    } finally q.stop()
  }

  test("streaming BM25 with frozen corpus stats == batch scoring, bit-for-bit, zero state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val raw = spark.read.parquet(s"$sfDir/documents.parquet")
    val terms = Seq("spark", "join", "dup")

    // frozen standing-corpus stats (the frozen-quantizer ingest
    // discipline: N/avgdl/df are literals, arriving docs never mutate
    // them) — computed from the same corpus so the batch ranker is the
    // exact comparator
    val stats = graft.operators.Retrieval.corpusStats(raw, "text", terms)
    assert(stats.nDocs == 500.0 && stats.dfs.forall(_ > 0))

    // the docs arrive as a stream in 3 micro-batches; scoring is a
    // stateless scan-side projection (append mode, no watermark)
    val docs = raw.select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val q = graft.operators.Retrieval.withBm25Frozen(
        mem.toDF().toDF("doc_id", "text"), "text", terms, stats)
      .select("doc_id", "bm25")
      .writeStream.outputMode("append").format("memory")
      .queryName("bm25_out").start()
    try {
      for (chunk <- docs.grouped((docs.size + 2) / 3)) {
        mem.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.table("bm25_out").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(streamed.size == docs.size)
      // batch comparator 1: the same frozen-score expression on the
      // static frame — bit-for-bit equal
      val batchFrozen = graft.operators.Retrieval.withBm25Frozen(
          raw, "text", terms, stats)
        .select("doc_id", "bm25").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(streamed == batchFrozen)
      // batch comparator 2: bm25TopK's in-plan stats produce the SAME
      // scores (frozen == live when the corpus is identical); ranks
      // order by that score
      val top = graft.operators.Retrieval.bm25TopK(raw, "doc_id", "text", terms, k = 500)
        .collect().map(r => (r.getLong(0), r.getDouble(2)))
      assert(top.nonEmpty)
      for ((id, score) <- top)
        assert(streamed(id) == score, s"doc $id: streamed ${streamed(id)} vs batch $score")
      // docs outside the candidate set score exactly 0 (every tf = 0)
      val candIds = top.map(_._1).toSet
      for ((id, s0) <- streamed if !candIds.contains(id)) assert(s0 == 0.0, s"doc $id: $s0")
    } finally q.stop()
  }

  test("streaming Kneser-Ney scoring with frozen stats == batch, zero state; unseen events back off deterministically") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val raw = spark.read.parquet(s"$sfDir/documents.parquet")

    val stats = graft.operators.LmScore.knStats(raw, "text")
    assert(stats.types > 0 && stats.big.size == stats.types.toInt)

    // docs arrive in 3 micro-batches; scoring is a stateless scan-side
    // projection over the broadcast artifact
    val docs = raw.select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val q = graft.operators.LmScore.withKnFrozen(
        mem.toDF().toDF("doc_id", "text"), "text", stats)
      .select("doc_id", "n_bigrams", "kn_nll")
      .writeStream.outputMode("append").format("memory")
      .queryName("kn_out").start()
    try {
      for (chunk <- docs.grouped((docs.size + 2) / 3)) {
        mem.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.table("kn_out").collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
      assert(streamed.size == docs.size)
      // frozen-on-stream == frozen-on-batch, bit-for-bit
      val frozenBatch = graft.operators.LmScore.withKnFrozen(raw, "text", stats)
        .select("doc_id", "n_bigrams", "kn_nll").collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
      assert(streamed == frozenBatch)
      // scoring the frozen corpus itself reproduces the distributed
      // q170 scorer: identical formula, summation order the only
      // difference — equal at the 6-dp report precision up to a
      // boundary ulp
      val live = graft.operators.LmScore.knBigramScore(raw, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
      for ((id, (nb, nll)) <- streamed) {
        assert(live(id)._1 == nb, s"doc $id: n_bigrams $nb vs ${live(id)._1}")
        assert(math.abs(live(id)._2 - nll) <= 1e-6, s"doc $id: $nll vs ${live(id)._2}")
      }
    } finally q.stop()

    // unseen events, hand-checked against the documented backoff:
    // "alpha beta" seen; "alpha qux" = lambda(alpha)*floor;
    // "zork beta" = Pcont(beta); "zork blip" = floor
    val tiny = Seq((1L, "alpha beta alpha beta")).toDF("doc_id", "text")
    val ts = graft.operators.LmScore.knStats(tiny, "text")
    // bigrams: (alpha beta) x2, (beta alpha) x1 -> types = 2
    assert(ts.types == 2.0)
    val probe = Seq(
      (1L, "alpha qux"), (2L, "zork beta"), (3L, "zork blip"))
      .toDF("doc_id", "text")
    val out = graft.operators.LmScore.withKnFrozen(probe, "text", ts)
      .select("doc_id", "kn_nll")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lambdaAlpha = 0.75 * 1.0 / 2.0 // n1l(alpha)=1, c1(alpha)=2
    assert(out(1L) == r6(-StrictMath.log(lambdaAlpha * (1.0 / 2.0))), out(1L).toString)
    assert(out(2L) == r6(-StrictMath.log(1.0 / 2.0)), out(2L).toString) // Pcont(beta)=n1r/types=1/2
    assert(out(3L) == r6(-StrictMath.log(1.0 / 2.0)), out(3L).toString) // floor 1/types
  }

  test("streaming DSIR gating with frozen stats == batch; unseen words score the smoothing floor") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val raw = spark.read.parquet(s"$sfDir/documents.parquet")
    val pred = col("lang") === "en"
    val stats = graft.operators.Dsir.dsirStats(raw, "text", pred)
    assert(stats.v > 0 && stats.nt > 0 && stats.nt < stats.nr)

    val docs = raw.select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val q = graft.operators.Dsir.withDsirFrozen(
        mem.toDF().toDF("doc_id", "text"), "text", stats)
      .select("doc_id", "n_tokens", "dsir_score", "selected")
      .writeStream.outputMode("append").format("memory")
      .queryName("dsir_out").start()
    try {
      for (chunk <- docs.grouped((docs.size + 2) / 3)) {
        mem.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.table("dsir_out").collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getBoolean(3)))).toMap
      assert(streamed.size == docs.size)
      // frozen-on-stream == frozen-on-batch, bit-for-bit
      val frozenBatch = graft.operators.Dsir.withDsirFrozen(raw, "text", stats)
        .select("doc_id", "n_tokens", "dsir_score", "selected").collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getBoolean(3)))).toMap
      assert(streamed == frozenBatch)
      // scoring the frozen corpus reproduces the distributed scorer
      val live = graft.operators.Dsir.importanceScore(raw, "doc_id", "text", pred)
        .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
      for ((id, (nt, sc, _)) <- streamed) {
        assert(live(id)._1 == nt, s"doc $id: n_tokens $nt vs ${live(id)._1}")
        assert(math.abs(live(id)._2 - sc) <= 1e-6, s"doc $id: $sc vs ${live(id)._2}")
      }
    } finally q.stop()

    // an all-unseen doc scores exactly the constant smoothing floor
    val floor = StrictMath.log(1.0 / (stats.nt + stats.v)) -
      StrictMath.log(1.0 / (stats.nr + stats.v))
    val probe = Seq((1L, "zorkle blipnax")).toDF("doc_id", "text")
    val got = graft.operators.Dsir.withDsirFrozen(probe, "text", stats)
      .select("dsir_score").first().getDouble(0)
    val want = BigDecimal(floor).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == want, s"$got vs $want")
  }

  test("streaming WordPiece at ingest == batch segmentation, bit-for-bit, zero state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val raw = spark.read.parquet(s"$sfDir/documents.parquet")
    val vocab = graft.SparkEntry.WordPieceVocab
    val docs = raw.select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val q = graft.operators.WordPiece.withPieces(
        mem.toDF().toDF("doc_id", "text"), "text", "pieces", vocab)
      .select(col("doc_id"), concat_ws(" ", col("pieces")).as("p"))
      .writeStream.outputMode("append").format("memory")
      .queryName("wp_out").start()
    try {
      for (chunk <- docs.grouped((docs.size + 2) / 3)) {
        mem.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.table("wp_out").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(streamed.size == docs.size)
      val batch = graft.operators.WordPiece.withPieces(raw, "text", "pieces", vocab)
        .select(col("doc_id"), concat_ws(" ", col("pieces")).as("p"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(streamed == batch)
      assert(batch.values.exists(_.contains("[UNK]")), "coverage hole never hit")
    } finally q.stop()
  }

  test("streaming centroid assignment with frozen centroids == batch probe, zero state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // frozen standing-corpus centroids (arriving vectors never mutate
    // them — the frozen-quantizer ingest discipline)
    val cents = graft.operators.Similarity.classCentroids(emb, "embedding", "label")
    val assign = graft.operators.Similarity.assignByCentroids(spark, cents)
    val rows = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = assignWrap(mem, assign)
    try {
      for (chunk <- rows.grouped((rows.size + 2) / 3)) {
        mem.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.table("cent_out").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(streamed.size == rows.size)
      val batch = graft.operators.Similarity.centroidClassify(
          emb, "vec_id", "embedding", "label")
        .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  private def assignWrap(mem: MemoryStream[(Long, Seq[Double])],
      assign: org.apache.spark.sql.expressions.UserDefinedFunction) =
    mem.toDF().toDF("vec_id", "embedding")
      .select(col("vec_id"), assign(col("embedding")).as("pred"))
      .writeStream.outputMode("append").format("memory")
      .queryName("cent_out").start()

  test("streaming model inference at ingest: GRU classes across micro-batches == batch q123") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    // batch comparator: the full q123 result
    val batch = graft.SparkEntry.queries("q123_torch_gru")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

    // the same docs arrive as a stream; tokenization + inferBatched is
    // a stateless scan-side projection (mapPartitions works unchanged
    // on the streaming frame — ingest-time model routing)
    val m = graft.SparkEntry.gruModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val toks = mem.toDF().toDF("doc_id", "text").select(col("doc_id"),
      slice(transform(
        call_function("regexp_extract_all", col("text"), lit(graft.Tok.Pattern), lit(0)),
        tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % vocab),
        1, 12).as("tok_ids"))
      .filter(size(col("tok_ids")) >= 1)
    graft.functions.ArgMax.register(spark)
    val q = graft.torch.Torch.inferBatched(toks, "tok_ids", "logits", bc, batchSize = 64)
      .select(col("doc_id"), call_function("argmax", col("logits")).as("cls"))
      .writeStream.outputMode("append").format("memory")
      .queryName("gru_stream_out").start()
    try {
      for (chunk <- docs.grouped((docs.size + 2) / 3)) {
        mem.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.table("gru_stream_out").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(streamed == batch,
        s"diff: ${streamed.toSet.diff(batch.toSet).take(3)} / ${batch.toSet.diff(streamed.toSet).take(3)}")
      assert(streamed.size == batch.size && streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming speculative serving at ingest == batch q254, bit-for-bit, zero state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    // batch comparator: the full q254 serving-loop result — draws are
    // keyed (doc_id, salt), so micro-batch boundaries and partition
    // layout cannot move a token (the salt-discipline claim, now
    // exercised under Structured Streaming: the draft-accelerated
    // scoring of an INGEST stream, e.g. synthetic-data generation at
    // arrival time)
    val batch = graft.SparkEntry.queries("q254_torch_spec_loop")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSet
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bcT = spark.sparkContext.broadcast(m)
    val bcD = spark.sparkContext.broadcast(graft.torch.TorchQuant.quantize(m, 7))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val toks = mem.toDF().toDF("doc_id", "text").select(col("doc_id"),
      slice(transform(
        call_function("regexp_extract_all", col("text"), lit(graft.Tok.Pattern), lit(0)),
        tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % vocab),
        1, 12).as("tok_ids"))
      .filter(size(col("tok_ids")) >= 1)
    val q = graft.torch.Torch.speculativeSampledLoop(toks, "doc_id",
        "tok_ids", bcT, bcD, gamma = 2, maxNewTokens = 2, batchSize = 64)
      .select(col("doc_id"),
        col("out_toks")(0).as("f1"), col("out_toks")(1).as("f2"),
        col("n_cycles").as("n_cyc"))
      .writeStream.outputMode("append").format("memory")
      .queryName("spec_stream_out").start()
    try {
      for (chunk <- docs.grouped((docs.size + 2) / 3)) {
        mem.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.table("spec_stream_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
        .toSet
      assert(streamed == batch,
        s"diff: ${streamed.diff(batch).take(3)} / ${batch.diff(streamed).take(3)}")
      assert(streamed.size == batch.size && streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming re-rotated bounded-KV decode at ingest == batch q295, bit-for-bit, zero state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    // batch comparator: the q295 re-rotated decode — per-row sessions
    // are partition-layout-independent and O(sink + window) state, so
    // an INGEST stream decodes past the model's table length with
    // bounded memory per arriving row (the StreamingLLM deployment
    // story under actual Structured Streaming)
    val batch = graft.SparkEntry.queries("q295_torch_kv_relpos")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSet
    val m = graft.SparkEntry.alibiRelLmModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val toks = mem.toDF().toDF("doc_id", "text").select(col("doc_id"),
      slice(transform(
        call_function("regexp_extract_all", col("text"), lit(graft.Tok.Pattern), lit(0)),
        tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % vocab),
        1, 12).as("tok_ids"))
      .filter(size(col("tok_ids")) >= 1)
    val q = graft.torch.Torch.generateGreedy(toks, "tok_ids",
        "gen", bc, steps = 3, nSink = 1, nWindow = 4, batchSize = 64,
        relPos = true)
      .select(col("doc_id"), col("gen")(0).as("gen1"),
        col("gen")(1).as("gen2"), col("gen")(2).as("gen3"))
      .writeStream.outputMode("append").format("memory")
      .queryName("relpos_stream_out").start()
    try {
      for (chunk <- docs.grouped((docs.size + 2) / 3)) {
        mem.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.table("relpos_stream_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
        .toSet
      assert(streamed == batch,
        s"diff: ${streamed.diff(batch).take(3)} / ${batch.diff(streamed).take(3)}")
      assert(streamed.size == batch.size && streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming seq2seq NLL filter at ingest == batch q210, bit-for-bit, zero state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    // batch comparator: the full q210 keep decisions
    val batch = graft.SparkEntry.queries("q210_seq2seq_filter")(spark, sfDir)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap

    // the same parallel pairs arrive as a stream: scoreSeq2SeqBatched
    // is a stateless scan-side mapPartitions over broadcast weights —
    // the frozen-artifact ingest discipline, so it runs unchanged on
    // the streaming frame with ZERO state
    val m = graft.SparkEntry.crossGenModel
    val dvocab = m.seqHead.get.vocab
    val kvocab = m.encHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val toks = mem.toDF().toDF("doc_id", "text").select(col("doc_id"),
      call_function("regexp_extract_all", col("text"),
        lit(graft.Tok.Pattern), lit(0)).as("words"))
      .select(col("doc_id"),
        slice(transform(col("words"),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % dvocab),
          1, 6).as("d_ids"),
        slice(transform(col("words"),
          tk => conv(substring(md5(tk), 1, 8), 16, 10).cast("long") % kvocab),
          1, 12).as("s_ids"))
      .filter(size(col("d_ids")) >= 2)
    val q = graft.torch.Torch
      .scoreSeq2SeqBatched(toks, "d_ids", "s_ids", "nll", bc)
      .select(col("doc_id"),
        (size(col("d_ids")) - 1).cast("long").as("n_scored"),
        (col("nll") < lit(6.4375d)).as("keep"))
      .writeStream.outputMode("append").format("memory")
      .queryName("s2s_stream_out").start()
    try {
      for (chunk <- docs.grouped((docs.size + 2) / 3)) {
        mem.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.table("s2s_stream_out").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
      assert(streamed == batch,
        s"diff: ${streamed.toSet.diff(batch.toSet).take(3)}")
      assert(streamed.size == batch.size && streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming token chunking at ingest == batch q222, bit-for-bit, zero state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("q222_chunk_windows")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getInt(2), r.getString(3)))
      .toMap
    // chunking is a stateless scan-side HOF + explode — it runs
    // unchanged on a streaming frame (the RAG ingest-time splitter)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val q = graft.operators.TextOps.chunkTokens(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        window = 16, stride = 12)
      .writeStream.outputMode("append").format("memory")
      .queryName("chunk_stream_out").start()
    try {
      for (chunk <- docs.grouped((docs.size + 2) / 3)) {
        mem.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.table("chunk_stream_out").collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> (r.getInt(2), r.getString(3)))
        .toMap
      assert(streamed == batch,
        s"diff: ${streamed.toSet.diff(batch.toSet).take(3)}")
      assert(streamed.size == batch.size && streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming audio features at ingest == batch decode on the same payloads") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // deterministic PCM16 payloads (q126's generator shape), one junk row
    def wav(id: Long): Array[Byte] =
      if (id == 7L) "not a wav".getBytes
      else graft.operators.Audio.writeWavPcm16(8000,
        Array(Array.tabulate(200 + (id % 3).toInt * 40)(i =>
          (((id * 31 + i.toLong * 7) % 4096) - 2048).toShort)))
    val rows = (0L until 30L).map(id => (id, wav(id)))
    val batch = graft.operators.Audio.withWavFeatures(
        rows.toDF("id", "wav"), "wav", "af")
      .select(col("id"), col("af.rms"), col("af.zero_cross"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else (r.getDouble(1), r.getInt(2)))).toMap
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = graft.operators.Audio.withWavFeatures(
        mem.toDF().toDF("id", "wav"), "wav", "af")
      .select(col("id"), col("af.rms"), col("af.zero_cross"))
      .writeStream.outputMode("append").format("memory")
      .queryName("wav_out").start()
    try {
      for (chunk <- rows.grouped(10)) { mem.addData(chunk); q.processAllAvailable() }
      val streamed = spark.table("wav_out").collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else (r.getDouble(1), r.getInt(2)))).toMap
      assert(streamed == batch) // bit-for-bit, junk row null on both sides
      assert(streamed(7L) == null && streamed.count(_._2 != null) == 29)
    } finally q.stop()
  }

  test("streaming near-dup candidates across micro-batches == batch MinHash-LSH pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("long").as("id"), col("text"))
    val rows = docs.as[(Long, String)].collect().toSeq

    val mem = MemoryStream[(Long, String)]
    val out = DocStream.nearDupCandidates(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", n = 3)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dup_cand").start()
    try {
      // three micro-batches: pairs must form across batch boundaries
      // (later arrival vs standing state), not just within one batch
      val chunks = rows.grouped((rows.size + 2) / 3).toSeq
      for (c <- chunks) { mem.addData(c); q.processAllAvailable() }

      val cands = spark.table("dup_cand")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

      // exact-verify the candidates the way the batch operator does,
      // then compare against the batch result on the same corpus
      val texts = rows.toMap
      def shingles(s: String): Set[Seq[String]] =
        graft.functions.HashExprs.tokenize(s).sliding(3).map(_.toSeq).toSet
      def jaccard(a: Long, b: Long): Double = {
        val (sa, sb) = (shingles(texts(a)), shingles(texts(b)))
        if (sa.isEmpty && sb.isEmpty) 0.0
        else sa.intersect(sb).size.toDouble / sa.union(sb).size
      }
      val verified = cands.filter { case (a, b) => jaccard(a, b) >= 0.8 }

      val batch = graft.operators.Dedup
        .minHashLshPairs(docs.toDF("doc_id", "text"), "doc_id", "text", 3, 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

      assert(batch.nonEmpty, "corpus should contain near-dup pairs")
      assert(verified == batch,
        s"streaming-verified=${verified.size} batch=${batch.size}")
    } finally q.stop()
  }

  test("re-delivered doc ids neither duplicate state nor re-emit pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val a = (1L, "the quick brown fox jumps over the lazy dog today")
    val b = (2L, "the quick brown fox jumps over the lazy dog tonight")
    val mem = MemoryStream[(Long, String)]
    val out = DocStream.nearDupCandidates(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", n = 3)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dup_redeliver").start()
    try {
      mem.addData(Seq(a)); q.processAllAvailable()
      mem.addData(Seq(a)); q.processAllAvailable() // at-least-once re-delivery
      mem.addData(Seq(b)); q.processAllAvailable()
      mem.addData(Seq(b)); q.processAllAvailable()
      val cands = spark.table("dup_redeliver")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // (1,2) appears once per colliding band — but the re-deliveries
      // must not inflate that count (pre-fix: state held id 1 twice and
      // batch 3 emitted every pair twice)
      assert(cands.nonEmpty && cands.forall(_ == ((1L, 2L))))
      val perBand = cands.length
      // re-run WITHOUT re-delivery: the per-band candidate count must match
      val mem2 = MemoryStream[(Long, String)]
      val out2 = DocStream.nearDupCandidates(
        mem2.toDF().toDF("doc_id", "text"), "doc_id", "text", n = 3)
      val q2 = out2.writeStream.outputMode("append")
        .format("memory").queryName("dup_clean").start()
      try {
        mem2.addData(Seq(a)); q2.processAllAvailable()
        mem2.addData(Seq(b)); q2.processAllAvailable()
        assert(spark.table("dup_clean").count() == perBand.toLong)
      } finally q2.stop()
    } finally q.stop()
  }

  test("stateTtl evicts old bucket entries: no pairs across the arrival window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val text = "the quick brown fox jumps over the lazy dog again"
    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = DocStream.nearDupCandidates(
      mem.toDF().toDF("doc_id", "ts", "text").withWatermark("ts", "0 seconds"),
      "doc_id", "text", n = 3,
      tsCol = Some("ts"), stateTtl = Some(java.time.Duration.ofMinutes(10)))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dup_ttl").start()
    try {
      // NOTE the watermark a stateful op sees in batch N is the one
      // committed at the END of batch N-1 — eviction lags one batch, so
      // the window boundary is driven by an unrelated doc (9) that
      // advances the watermark past 1/2's windows BEFORE 3 arrives.
      mem.addData(Seq((1L, ts(100), text))); q.processAllAvailable()
      // inside the window: pairs with doc 1
      mem.addData(Seq((2L, ts(105), text))); q.processAllAvailable()
      // unrelated doc advances the watermark to t=200min (no shared
      // shingles -> no shared buckets -> no pairs)
      mem.addData(Seq((9L, ts(200), "completely different words about ships and stars and maps")))
      q.processAllAvailable()
      // 1 and 2 are now evicted (their ts+ttl < watermark): identical
      // doc 3 must NOT pair with them
      mem.addData(Seq((3L, ts(205), text))); q.processAllAvailable()
      // but 4, inside 3's window, pairs with 3
      mem.addData(Seq((4L, ts(210), text))); q.processAllAvailable()
      val cands = spark.table("dup_ttl")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(cands.contains((1L, 2L)) && cands.contains((3L, 4L)), s"got $cands")
      // doc 3/4 must not pair with the evicted 1/2 even though identical
      assert(!cands.exists { case (x, y) => x <= 2 && y >= 3 },
        s"pair across the evicted window: $cands")
    } finally q.stop()
  }

  // ---- streaming IVFADC (frozen quantizer) ----

  /** Pure-Scala mirror of the streaming kernels (same loop order as
    * the operator and the batch ivfPqTopK): unit-normalize, probe
    * cells, residual codes, residual LUT, ADC. */
  private object IvfRef {
    import graft.operators.Similarity.IvfPqIndex
    def unit(v: Seq[Double]): Seq[Double] = {
      var n = 0.0; v.foreach(x => n += x * x); n = math.sqrt(n)
      if (n > 0) v.map(_ / n) else v
    }
    def probes(ix: IvfPqIndex, u: Seq[Double], nprobe: Int): Seq[Int] =
      ix.coarse.indices.map { c =>
        var d = 0.0; var j = 0
        while (j < u.length) { val df = u(j) - ix.coarse(c)(j); d += df * df; j += 1 }
        (c, d)
      }.sortBy { case (c, d) => (d, c) }.take(nprobe).map(_._1)
    def codes(ix: IvfPqIndex, u: Seq[Double], home: Int): Seq[Int] = {
      val b = ix.books; val ct = ix.coarse(home)
      (0 until b.m).map { s =>
        val cents = b.centroids(s)
        var best = 0; var bd = Double.MaxValue
        for (cc <- cents.indices) {
          var d = 0.0; var j = 0
          while (j < b.dsub) {
            val diff = (u(s * b.dsub + j) - ct(s * b.dsub + j)) - cents(cc)(j)
            d += diff * diff; j += 1
          }
          if (d < bd) { bd = d; best = cc }
        }
        best
      }
    }
    def lut(ix: IvfPqIndex, u: Seq[Double], cell: Int): Array[Array[Double]] = {
      val b = ix.books; val ct = ix.coarse(cell)
      Array.tabulate(b.m) { s =>
        val cents = b.centroids(s)
        Array.tabulate(cents.length) { cc =>
          var d = 0.0; var j = 0
          while (j < b.dsub) {
            val diff = (u(s * b.dsub + j) - ct(s * b.dsub + j)) - cents(cc)(j)
            d += diff * diff; j += 1
          }
          d
        }
      }
    }
    def adc(l: Array[Array[Double]], cs: Seq[Int]): Double = {
      var d = 0.0; var s = 0
      while (s < cs.length) { d += l(s)(cs(s)); s += 1 }
      d
    }
  }

  test("streaming IVFADC: candidates match the reference rule; final query == batch ivfPqTopK") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val Sim = graft.operators.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") <= 120)
      .select(col("vec_id"), col("embedding"))
    val ix = Sim.ivfPqTrain(emb, "embedding", dim = 64, nlist = 8, m = 8, ksub = 16)
    val rows = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    val (k, nprobe) = (5, 3)

    val mem = MemoryStream[(Long, Seq[Double])]
    val out = DocStream.ivfPqCandidates(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", ix, k, nprobe)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("ann_cand").start()
    try {
      // two corpus batches, then the largest id alone as the final query
      val batches = Seq(rows.slice(0, 60), rows.slice(60, 120), rows.slice(120, 121))
      for (b <- batches) { mem.addData(b); q.processAllAvailable() }
      val got = spark.table("ann_cand")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

      // full-stream check: every arrival's per-cell top-k vs the
      // reference rule "accepted = earlier (batch, id), home cell in
      // my probes", with EXACT double equality (same op order)
      val batchOf = batches.zipWithIndex
        .flatMap { case (b, i) => b.map(r => r._1 -> i) }.toMap
      val units = rows.map { case (id, v) => id -> IvfRef.unit(v) }.toMap
      val homes = rows.map { case (id, _) => id -> IvfRef.probes(ix, units(id), 1).head }.toMap
      val cds = rows.map { case (id, _) => id -> IvfRef.codes(ix, units(id), homes(id)) }.toMap
      val expected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      for ((qid, _) <- rows) {
        val before = rows.map(_._1).filter(v =>
          (batchOf(v), v) != ((batchOf(qid), qid)) &&
            (batchOf(v) < batchOf(qid) || (batchOf(v) == batchOf(qid) && v < qid)))
        for (cell <- IvfRef.probes(ix, units(qid), nprobe)) {
          val l = IvfRef.lut(ix, units(qid), cell)
          val inCell = before.filter(homes(_) == cell)
            .map(v => (IvfRef.adc(l, cds(v)), v)).sorted.take(k)
          inCell.foreach { case (d, v) => expected += ((qid, v, d)) }
        }
      }
      assert(got.toSet == expected.toSet,
        s"stream=${got.length} expected=${expected.length}")

      // the literal batch gate: global top-k for the final query over
      // its streamed candidates == batch ivfPqTopK with corpus = all
      // accepted-before vectors (bit-identical adc after the same
      // 6-decimal rounding)
      val lastId = rows.last._1
      val streamTop = got.filter(_._1 == lastId).sortBy(t => (t._3, t._2)).take(k)
        .map { case (_, vid, d) => (vid, math.rint(d * 1e6) / 1e6) }
      val corpus = emb.filter(col("vec_id") =!= lastId)
      val codesDf = Sim.ivfPqEncode(corpus, "vec_id", "embedding", ix)
      val batchTop = Sim.ivfPqTopK(codesDf, emb.filter(col("vec_id") === lastId),
        "vec_id", "embedding", ix, k, nprobe)
        .orderBy("rank")
        .collect().map(r => (r.getLong(2), r.getDouble(3)))
      assert(streamTop.map(_._1).toSeq == batchTop.map(_._1).toSeq,
        s"stream=$streamTop batch=${batchTop.toSeq}")
      for ((s, b) <- streamTop.zip(batchTop)) assert(s._2 == b._2,
        s"adc mismatch: $s vs $b")
    } finally q.stop()
  }

  test("streaming IVFADC: re-delivered vectors neither duplicate state nor candidates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val Sim = graft.operators.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 40).select(col("vec_id"), col("embedding"))
    val ix = Sim.ivfPqTrain(emb, "embedding", dim = 64, nlist = 4, m = 8, ksub = 8)
    val v0 = emb.select(col("embedding").cast("array<double>"))
      .as[Seq[Double]].head()
    val mem = MemoryStream[(Long, Seq[Double])]
    val out = DocStream.ivfPqCandidates(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", ix,
      k = 5, nprobe = 1)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("ann_redeliver").start()
    try {
      mem.addData(Seq((1L, v0))); q.processAllAvailable()
      mem.addData(Seq((1L, v0))); q.processAllAvailable() // at-least-once
      mem.addData(Seq((2L, v0))); q.processAllAvailable()
      val cands = spark.table("ann_redeliver")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // exactly one candidate: 2 vs the single accepted copy of 1
      assert(cands.toSeq == Seq((2L, 1L)), s"got ${cands.toSeq}")
    } finally q.stop()
  }

  test("streaming IVFADC: stateTtl evicts accepted vectors past the arrival window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val Sim = graft.operators.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 40).select(col("vec_id"), col("embedding"))
    val ix = Sim.ivfPqTrain(emb, "embedding", dim = 64, nlist = 4, m = 8, ksub = 8)
    val vecs = emb.select(col("embedding").cast("array<double>"))
      .as[Seq[Double]].collect()
    val v0 = vecs(0)
    val home0 = IvfRef.probes(ix, IvfRef.unit(v0), 1).head
    // a watermark-advancing vector homed in a DIFFERENT cell, so with
    // nprobe = 1 it cannot interact with v0's cell
    val vOther = vecs.find(v => IvfRef.probes(ix, IvfRef.unit(v), 1).head != home0)
      .getOrElse(fail("no vector outside v0's cell"))
    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Seq[Double])]
    val out = DocStream.ivfPqCandidates(
      mem.toDF().toDF("vec_id", "ts", "embedding").withWatermark("ts", "0 seconds"),
      "vec_id", "embedding", ix, k = 5, nprobe = 1,
      tsCol = Some("ts"), stateTtl = Some(java.time.Duration.ofMinutes(10)))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("ann_ttl").start()
    try {
      mem.addData(Seq((1L, ts(100), v0))); q.processAllAvailable()
      mem.addData(Seq((2L, ts(105), v0))); q.processAllAvailable() // pairs with 1
      mem.addData(Seq((9L, ts(200), vOther))); q.processAllAvailable() // advances wm
      mem.addData(Seq((3L, ts(205), v0))); q.processAllAvailable() // 1/2 evicted
      mem.addData(Seq((4L, ts(210), v0))); q.processAllAvailable() // pairs with 3
      val cands = spark.table("ann_ttl")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(cands.contains((2L, 1L)) && cands.contains((4L, 3L)), s"got $cands")
      assert(!cands.exists { case (a, b) => a >= 3 && b <= 2 },
        s"candidate across the evicted window: $cands")
    } finally q.stop()
  }

  test("stateTtl: state size plateaus under a long stream instead of growing with it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 40 batches of distinct-text docs, each opening ~bands new buckets;
    // timestamps advance 5 min per batch, TTL 10 min — only the last
    // ~2-3 docs' buckets can be live, so total state rows must plateau
    // far below the no-TTL growth of ~16 buckets x 40 docs
    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    def text(i: Int) =
      (0 until 12).map(k => s"w${i}_$k").mkString(" ") // unique shingles per doc
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = DocStream.nearDupCandidates(
      mem.toDF().toDF("doc_id", "ts", "text").withWatermark("ts", "0 seconds"),
      "doc_id", "text", n = 3,
      tsCol = Some("ts"), stateTtl = Some(java.time.Duration.ofMinutes(10)))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dup_plateau").start()
    try {
      val totals = (1 to 40).map { i =>
        mem.addData(Seq((i.toLong, ts(i * 5), text(i))))
        q.processAllAvailable()
        q.lastProgress.stateOperators.headOption.map(_.numRowsTotal).getOrElse(0L)
      }
      assert(spark.table("dup_plateau").count() == 0) // nothing collides
      // growth bound: the last-batch state is a small multiple of one
      // doc's bucket count, nowhere near the 40-doc accumulation
      val buckets = 16 // bands
      assert(totals.last <= 4L * buckets,
        s"state did not plateau: ${totals.mkString(",")}")
      assert(totals.max <= 6L * buckets,
        s"state spiked: ${totals.mkString(",")}")
    } finally q.stop()
  }

  test("frozen-CMS boilerplate scoring: streaming == batch, zero state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val grams = graft.operators.TextOps.shingles(col("text"), 2)
    val (depth, width) = (4, 1024)
    // sketch frozen from the standing corpus (one fixed-size buffer)
    val counters = raw
      .agg(graft.operators.Profile.Cms.cms_sketch(grams, depth, width).as("sk"))
      .selectExpr("sk.counters").head().getSeq[Long](0).toArray
    val minCount = math.max(2L, raw.count() * 5L / 100L)
    def score(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), graft.operators.Profile.Cms
        .heavyStats(spark, counters, depth, width, minCount,
          graft.operators.TextOps.shingles(col("text"), 2)).as("st"))
        .select(col("doc_id"), col("st.n_grams"), col("st.n_heavy"))

    val docs = raw.select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val q = score(mem.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("cms_out").start()
    try {
      for (chunk <- docs.grouped((docs.size + 2) / 3)) {
        mem.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.table("cms_out").collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
      val batch = score(raw).collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
      assert(streamed.size == docs.size)
      assert(streamed == batch)
      assert(batch.values.exists(_._2 > 0), "fixture has no heavy grams — weak test")
    } finally q.stop()
  }

  test("streaming greedy decode: streaming == batch, zero state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // generation is deterministic stateless scan-side (per-row KV
    // sessions inside mapPartitions), so it runs unchanged on a
    // stream — LLM scoring/augmentation AT INGEST, the frozen-model
    // discipline's generation form
    val raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val m = graft.SparkEntry.genModel
    val vocab = m.seqHead.get.vocab
    val bc = spark.sparkContext.broadcast(m)
    def gen(df: org.apache.spark.sql.DataFrame) =
      graft.torch.Torch.generateGreedy(
        df.select(col("doc_id"),
          org.apache.spark.sql.functions.slice(
            org.apache.spark.sql.functions.transform(
              call_function("regexp_extract_all", col("text"),
                lit(graft.Tok.Pattern), lit(0)),
              tk => conv(substring(md5(tk), 1, 8), 16, 10)
                .cast("long") % vocab), 1, 12).as("tok_ids"))
          .filter(org.apache.spark.sql.functions.size(col("tok_ids")) >= 1),
        "tok_ids", "gen", bc, steps = 2)
        .select(col("doc_id"), col("gen"))
    val docs = raw.select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val q = gen(mem.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("gen_out").start()
    try {
      for (chunk <- docs.grouped((docs.size + 2) / 3)) {
        mem.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.table("gen_out").collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val batch = gen(raw).collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      assert(streamed == batch, "streaming decode diverged from batch")
      assert(batch.nonEmpty && batch.values.forall(_.length == 2))
    } finally q.stop()
  }

  test("streaming watermark detection: streaming == batch, zero state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // q240's detector is a stateless per-row zip_with scan — the
    // frozen-artifact ingest discipline's trivial case (no artifact
    // at all): arriving docs score identically to the batch pass,
    // micro-batch boundaries invisible
    val raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val vocab = 8
    def score(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Watermark.greenFractionZ(
        df.select(col("doc_id"),
          org.apache.spark.sql.functions.transform(
            call_function("regexp_extract_all", col("text"),
              lit(graft.Tok.Pattern), lit(0)),
            tk => conv(substring(md5(tk), 1, 8), 16, 10)
              .cast("long") % vocab).as("tok_ids")),
        "doc_id", col("tok_ids"))
    val docs = raw.select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val q = score(mem.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("wm_out").start()
    try {
      for (chunk <- docs.grouped((docs.size + 2) / 3)) {
        mem.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.table("wm_out").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getBoolean(4)))).toMap
      val batch = score(raw).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getBoolean(4)))).toMap
      assert(streamed == batch, "streaming watermark scores diverged from batch")
      assert(batch.nonEmpty && batch.values.forall(_._1 >= 1))
    } finally q.stop()
  }

  test("streaming image-fingerprint dedup against a REOPENED index == batch probe, exact planted pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // standing corpus: md5-avalanched 64-bit fingerprints, persisted
    // ONCE (the q231 artifact); arriving images probe it — the frozen
    // standing corpus is never rehashed (the frozen-artifact ingest
    // discipline, perceptual-hash form)
    def fp(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"sx:$id".getBytes("UTF-8"))
      md.take(8).zipWithIndex.map { case (b, i) => (b.toLong & 0xff) << (8 * i) }.sum
    }
    val path = java.nio.file.Files.createTempDirectory("simgidx").toString
    val corpus = (0L until 200L).map(i => (i, fp(i))).toDF("img_id", "f")
    graft.operators.Dedup.saveHashIndex(corpus, "img_id", "f", 3, path)
    val ix = graft.operators.Dedup.loadHashIndex(spark, path)
    // fresh: 30 planted 2-bit perturbations + 30 novel fingerprints
    val fresh = ((0L until 30L).map(i => (i + 10000L, fp(i) ^ 9L)) ++
      (700L until 730L).map(i => (i + 10000L, fp(i)))).toSeq
    val mem = MemoryStream[(Long, Long)]
    val q = graft.operators.Dedup.incrementalHammingAgainst(
        ix, mem.toDF().toDF("img_id", "f"), "img_id", "f")
      .writeStream.outputMode("append").format("memory")
      .queryName("imgdedup_out").start()
    try {
      for (chunk <- fresh.grouped((fresh.size + 2) / 3)) {
        mem.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.table("imgdedup_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
      val batch = graft.operators.Dedup.incrementalHammingAgainst(
          ix, fresh.toDF("img_id", "f"), "img_id", "f")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
      assert(streamed == batch, s"streaming diverged: $streamed vs $batch")
      assert(streamed.size == 30, s"expected exactly the planted pairs: $streamed")
      for (i <- 0L until 30L)
        assert(streamed.contains((i, i + 10000L, 2)), s"planted pair $i missing")
    } finally q.stop()
  }
}
