package graft

import graft.operators.{Audio, Multimodal, Video}
import graft.torch.{Torch, TorchQuant, TorchScriptModel}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The null/empty input contract of every scan-side kernel that appends
 * columns row for row: for each input row, whether the operator appends
 * nulls, values, or fails (the root exception's class). Token kernels
 * see, on their first int column `a`: a null array (row 1), an array
 * with a null element (row 2) and an empty array (row 3); rows 4 and 5
 * are two sf0.01 documents; rows 6-8 repeat the three cases on the
 * second column `b` with document 4's tokens in `a`. Binary kernels
 * see a null payload (row 1), a payload no decoder accepts (row 2), an
 * empty payload (row 3) and two payloads built from sf0.01 documents.
 * Every row runs in its own one-row frame, so one failing row does not
 * hide the others.
 */
class KernelContractSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private lazy val docs = spark.read.parquet("graftbench/data/sf0.01/documents.parquet")

  private def bc(m: TorchScriptModel) = spark.sparkContext.broadcast(m)
  private lazy val gen = bc(SparkEntry.genModel)
  private lazy val genQ = bc(TorchQuant.quantize(SparkEntry.genModel, 7))
  private lazy val early = bc(SparkEntry.earlyExitModel)
  private lazy val cross = bc(SparkEntry.crossGenModel)
  private lazy val crossQ = bc(TorchQuant.quantize(SparkEntry.crossGenModel, 7))
  private lazy val genVocab = SparkEntry.genModel.seqHead.get.vocab

  private val tokSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("a", ArrayType(LongType)), StructField("b", ArrayType(LongType))))

  /** The first `len` token ids, mod `v`, of two sf0.01 documents with
    * at least three tokens. */
  private def docIds(v: Int, len: Int): Seq[Seq[Long]] =
    Tok.input(docs, v, len, minTokens = 3).orderBy("doc_id").limit(2).collect()
      .map(_.getSeq[Long](1)).toSeq

  private def tokRows(va: Int, vb: Int, lenB: Int = 12): Seq[Row] = {
    val Seq(a4, a5) = docIds(va, 12)
    val Seq(b4, b5) = docIds(vb, lenB)
    val odd: Seq[Seq[java.lang.Long]] = Seq(null, Seq(1L, null, 2L), Seq.empty)
    odd.zipWithIndex.map { case (x, i) => Row(i + 1L, x, b4) } ++
      Seq(Row(4L, a4, b4), Row(5L, a5, b5)) ++
      odd.zipWithIndex.map { case (x, i) => Row(i + 6L, a4, x) }
  }

  private val binSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("bin", BinaryType)))

  /** null, undecodable, empty, then two payloads made by `mk` from the
    * text of two sf0.01 documents. */
  private def binRows(mk: (Long, Array[Byte]) => Array[Byte]): Seq[Row] = {
    val two = docs.where(col("text").isNotNull && col("text") =!= "")
      .orderBy("doc_id").limit(2).collect()
      .map(r => mk(r.getAs[Long]("doc_id"), r.getAs[String]("text").getBytes("UTF-8")))
    Seq(Row(1L, null), Row(2L, Array[Byte](0, 1, 2, 3, 4)), Row(3L, Array.empty[Byte]),
      Row(4L, two(0)), Row(5L, two(1)))
  }

  private def pgm(id: Long, text: Array[Byte]): Array[Byte] =
    "P5\n8 8\n255\n".getBytes("US-ASCII") ++ Array.tabulate(64)(i => text(i % text.length))
  private def floats(rows: Seq[Row]): Seq[Row] = rows.map { r =>
    val a = r.getSeq[java.lang.Long](1)
    Row(r.get(0), if (a == null || a.isEmpty) a else a.take(5).map(x => if (x == null) null
      else java.lang.Double.valueOf(x * 0.25)).padTo(5, java.lang.Double.valueOf(0.5)))
  }

  private def rootCause(e: Throwable): Throwable =
    if (e.getCause == null || (e.getCause eq e)) e else rootCause(e.getCause)

  /** The outcome of each row, in row order. */
  private def outcomes(rows: Seq[Row], schema: StructType)(op: DataFrame => DataFrame): Seq[String] =
    rows.map { row =>
      try {
        val out = op(spark.createDataFrame(java.util.List.of(row), schema)).collect()
        assert(out.length == 1, s"row ${row.get(0)}: ${out.length} output rows")
        val added = out(0).toSeq.drop(schema.length)
        if (added.forall(_ == null)) "null"
        else if (added.forall(_ != null)) "value"
        else added.map(v => if (v == null) "n" else "v").mkString("mixed:", "", "")
      } catch { case e: Exception => rootCause(e).getClass.getSimpleName }
    }

  // `b` is a continuation or prefix of `a` here: short enough that both
  // fit the generator's position table
  private lazy val genRows = tokRows(genVocab, genVocab, lenB = 3)
  private lazy val crossRows = tokRows(SparkEntry.crossGenModel.seqHead.get.vocab,
    SparkEntry.crossGenModel.encHead.get.vocab)

  private def onGen(name: String, expected: String)(op: DataFrame => DataFrame): Unit =
    test(s"$name: null/empty contract") {
      assert(outcomes(genRows, tokSchema)(op).mkString(",") == expected)
    }
  private def onCross(name: String, expected: String)(op: DataFrame => DataFrame): Unit =
    test(s"$name: null/empty contract") {
      assert(outcomes(crossRows, tokSchema)(op).mkString(",") == expected)
    }
  private def onBin(name: String, expected: String, mk: (Long, Array[Byte]) => Array[Byte])(
      op: DataFrame => DataFrame): Unit =
    test(s"$name: null/empty contract") {
      assert(outcomes(binRows(mk), binSchema)(op).mkString(",") == expected)
    }

  // ---- feature and token inference -----------------------------------
  test("inferBatched (feature model): null/empty contract") {
    val fSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("a", ArrayType(DoubleType))))
    val got = outcomes(floats(genRows), fSchema)(
      Torch.inferBatched(_, "a", "o", bc(SparkEntry.qualityModel)))
    assert(got.mkString(",") == "null,null,IllegalArgumentException,value,value,value,value,value")
  }
  // mean pooling reads an empty row as a value; the TextCNN's
  // convolution has no window to slide over it, so the row is null
  for ((name, m, v, expected) <- Seq(
      ("embedClassModel", () => SparkEntry.embedClassModel,
        () => SparkEntry.embedClassModel.embedHead.get.vocab, "null,null,value,value,value,value,value,value"),
      ("textCnnModel", () => SparkEntry.textCnnModel,
        () => SparkEntry.textCnnModel.seqHead.get.vocab, "null,null,null,value,value,value,value,value")))
    test(s"inferBatched (token model $name): null/empty contract") {
      val got = outcomes(tokRows(v(), v()), tokSchema)(Torch.inferBatched(_, "a", "o", bc(m())))
      assert(got.mkString(",") == expected)
    }
  onCross("inferPairBatched", "null,null,null,value,value,null,null,null")(Torch.inferPairBatched(_, "a", "b", "o", cross))
  onBin("inferImageBatched", "null,null,null,value,value", (id, t) => pgm(id, t).takeRight(64))(
    Torch.inferImageBatched(_, "bin", "o", bc(SparkEntry.mobileModel), 1, 8, 8))
  test("scoreLmBatched: null/empty contract") {
    val v = SparkEntry.gruLmModel.seqHead.get.vocab
    val got = outcomes(tokRows(v, v), tokSchema)(
      Torch.scoreLmBatched(_, "a", "o", bc(SparkEntry.gruLmModel)))
    assert(got.mkString(",") == "null,null,null,value,value,value,value,value")
  }
  onCross("scoreSeq2SeqBatched", "null,null,null,value,value,null,null,null")(Torch.scoreSeq2SeqBatched(_, "a", "b", "o", cross))

  // ---- decoders --------------------------------------------------------
  onGen("beamSearch", "null,null,null,value,value,value,value,value")(Torch.beamSearch(_, "a", "o", gen, steps = 2, width = 2))
  onGen("beamSearchDiverse", "null,null,null,value,value,value,value,value")(Torch.beamSearchDiverse(_, "a", "o", gen,
    steps = 2, width = 2, groups = 2, diversityPenalty = 0.5))
  onGen("speculativeSampled", "null,null,null,value,value,value,value,value")(Torch.speculativeSampled(_, "doc_id", "a", gen, genQ))
  onGen("speculativeSampledGamma", "null,null,null,value,value,value,value,value")(
    Torch.speculativeSampledGamma(_, "doc_id", "a", gen, genQ, gamma = 2))
  onGen("speculativeSampledLoop", "null,null,null,value,value,value,value,value")(
    Torch.speculativeSampledLoop(_, "doc_id", "a", gen, genQ, gamma = 2, maxNewTokens = 2))
  // the "...Pair" labels are the base decoders over a cross model
  // (srcCol), "generateGreedyWindowed" generateGreedy's bounded KV
  // (nWindow) and "generateGreedyFused" its shallow fusion (lmWeight)
  onCross("speculativeSampledPair", "null,null,null,value,value,null,null,null")(
    Torch.speculativeSampled(_, "doc_id", "a", cross, crossQ, srcCol = "b"))
  onCross("speculativeSampledPairGamma", "null,null,null,value,value,null,null,null")(
    Torch.speculativeSampledGamma(_, "doc_id", "a", cross, crossQ, gamma = 2, srcCol = "b"))
  onCross("speculativeSampledPairLoop", "null,null,null,value,value,null,null,null")(Torch.speculativeSampledLoop(
    _, "doc_id", "a", cross, crossQ, gamma = 2, maxNewTokens = 2, srcCol = "b"))
  onGen("generateContrastiveDecoding", "null,null,null,value,value,value,value,value")(Torch.generateContrastiveDecoding(
    _, "a", "o", gen, genQ, steps = 2, plausibilityAlpha = 0.125))
  onGen("beamSearchContrastiveDecoding", "null,null,null,value,value,value,value,value")(Torch.beamSearchContrastiveDecoding(
    _, "a", "o", gen, genQ, steps = 2, width = 2, plausibilityAlpha = 0.125))
  onGen("scoreContinuationBatched", "null,null,null,value,value,null,null,null")(Torch.scoreContinuationBatched(_, "a", "b", "o", gen))
  onGen("generateGreedySharedPrefix", "null,null,value,value,value,null,null,value")(
    Torch.generateGreedySharedPrefix(_, "b", "a", "o", gen, steps = 1))
  onGen("generateGreedyFused", "null,null,null,value,value,value,value,value")(Torch.generateGreedy(_, "a", "o", gen, steps = 3,
    lmWeight = 0.5, lmCounts = Array.tabulate(genVocab, genVocab)((i, j) => (i + 2L * j) % 5)))
  onGen("generateContrastive", "null,null,null,value,value,value,value,value")(
    Torch.generateContrastive(_, "a", "o", gen, steps = 2, topK = 3, alpha = 0.5))
  onCross("generateGreedyPair", "null,null,null,value,value,null,null,null")(
    Torch.generateGreedy(_, "a", "o", cross, steps = 2, srcCol = "b"))
  onCross("beamSearchPair", "null,null,null,value,value,null,null,null")(
    Torch.beamSearch(_, "a", "o", cross, steps = 2, width = 2, srcCol = "b"))
  onCross("generateSampledPair", "null,null,null,value,value,null,null,null")(Torch.generateSampled(_, "doc_id", "a", "o", cross,
    steps = 2, temperature = 0.5, topP = 0.9, srcCol = "b"))
  onGen("generateSampled", "null,null,null,value,value,value,value,value")(Torch.generateSampled(_, "doc_id", "a", "o", gen,
    steps = 2, temperature = 0.5, topP = 0.9))
  onGen("generateSampledK", "null,null,null,value,value,value,value,value")(Torch.generateSampledK(_, "doc_id", "a", "o", gen,
    steps = 2, temperature = 0.5, topP = 0.9, numReturnSequences = 3))
  test("generateGreedyWindowed: null/empty contract") {
    val v = SparkEntry.alibiLmModel.seqHead.get.vocab
    val got = outcomes(tokRows(v, v), tokSchema)(Torch.generateGreedy(
      _, "a", "o", bc(SparkEntry.alibiLmModel), steps = 3, nSink = 1, nWindow = 4))
    assert(got.mkString(",") == "null,null,null,value,value,value,value,value")
  }
  onGen("generateGreedy", "null,null,null,value,value,value,value,value")(Torch.generateGreedy(_, "a", "o", gen, steps = 3))
  onGen("generateGreedy (eos, min-new-tokens)", "null,null,null,value,value,value,value,value")(
    Torch.generateGreedy(_, "a", "o", gen, steps = 3, eosId = 1, minNewTokens = 1))
  onGen("generatePromptLookup", "null,null,null,value,value,value,value,value")(Torch.generatePromptLookup(_, "a", gen, ngram = 2, maxDraft = 2))
  onGen("speculativeSampledMultiDraftLoop", "null,null,null,value,value,value,value,value")(Torch.speculativeSampledMultiDraftLoop(
    _, "doc_id", "a", gen, genQ, numDrafts = 2, maxNewTokens = 2))
  onGen("promptLookupSampled", "null,null,null,value,value,value,value,value")(
    Torch.promptLookupSampled(_, "doc_id", "a", gen, ngram = 2, maxDraft = 2))
  onGen("treeDraftTypical", "null,null,null,value,value,value,value,value")(Torch.treeDraftTypical(_, "a", gen, early, branch = 2,
    depth = 2, posteriorEps = 0.25, posteriorAlpha = 0.5))
  onGen("treeDraftTypicalLoop", "null,null,null,value,value,value,value,value")(Torch.treeDraftTypicalLoop(_, "a", gen, early, branch = 2,
    depth = 2, posteriorEps = 0.25, posteriorAlpha = 0.5, maxNewTokens = 2))
  onGen("treeDraftGreedyLoop", "null,null,null,value,value,value,value,value")(
    Torch.treeDraftGreedyLoop(_, "a", gen, genQ, branch = 2, depth = 2, maxNewTokens = 2))
  onGen("speculativeSampledMultiDraft", "null,null,null,value,value,value,value,value")(
    Torch.speculativeSampledMultiDraft(_, "doc_id", "a", gen, genQ, numDrafts = 2))
  onGen("treeDraftStochastic", "null,null,null,value,value,value,value,value")(
    Torch.treeDraftStochastic(_, "doc_id", "a", gen, genQ, branch = 2, depth = 2))
  onGen("treeDraftStochasticLoop", "null,null,null,value,value,value,value,value")(Torch.treeDraftStochasticLoop(
    _, "doc_id", "a", gen, genQ, branch = 2, depth = 2, maxNewTokens = 2))
  onGen("generatePromptLookupLoop", "null,null,null,value,value,value,value,value")(
    Torch.generatePromptLookupLoop(_, "a", gen, ngram = 2, maxDraft = 2, maxNewTokens = 2))
  onGen("treeDraftGreedy", "null,null,null,value,value,value,value,value")(Torch.treeDraftGreedy(_, "a", gen, genQ, branch = 2, depth = 2))

  // ---- codecs ----------------------------------------------------------
  onBin("Multimodal.withDecodedMeta", "null,value,value,value,value", pgm)(Multimodal.withDecodedMeta(_, "bin", "o"))
  onBin("Multimodal.byteHistogramFeatures", "null,value,null,value,value", (_, t) => t)(
    Multimodal.byteHistogramFeatures(_, "bin", "o"))
  onBin("Multimodal.resizeImage", "null,null,null,value,value", pgm)(Multimodal.resizeImage(_, "bin", "o", 4, 4))
  onBin("Multimodal.resizeStub", "null,value,value,value,value", (_, t) => t)(Multimodal.resizeStub(_, "bin", "o", 4))
  onBin("Video.withAviMeta", "null,null,null,value,value", (_, t) => Video.writeAviMjpeg(20000, 8, 8, Seq(t)))(
    Video.withAviMeta(_, "bin", "o"))
  onBin("Video.withMp4Meta", "null,null,null,value,value", (id, _) => Video.writeMp4("isom", 1000, 3200 + id, Seq((64, 48))))(
    Video.withMp4Meta(_, "bin", "o"))
  onBin("Audio.withWavFeatures", "null,null,null,value,value", (_, t) =>
      Audio.writeWavPcm16(8000, Array(t.map(b => (b * 64).toShort))))(
    Audio.withWavFeatures(_, "bin", "o"))
}
