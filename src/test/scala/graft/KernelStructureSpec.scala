package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * [[Kernel]] is the only path for scan-side kernels that append columns
 * row for row: outside it, a `mapPartitions` (or its hand-rolled frame:
 * `it.grouped(`, `Encoders.row(`, `Row.fromSeq(r.toSeq :+`) may appear
 * only in the five kernels whose output is not one row per input row,
 * and the null-safe `java.lang.Number` array decode only in Kernel's
 * shared decoders. [[graft.torch.Torch]] opens bounded or re-rotated KV
 * sessions only in its one opener, and keeps no cross-pair, windowed or
 * fused copy of a generator: those are arguments of the base decoders.
 * Its speculative cells and serving loops run through the shared walks
 * of `Torch.Spec` and its one serving driver, and it defines `q6` once.
 */
class KernelStructureSpec extends AnyFunSuite {
  private val root = new java.io.File("src/main/scala/graft")

  private def sources(dir: java.io.File): Seq[java.io.File] =
    dir.listFiles().toSeq.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  /** (file name, enclosing method) of every code line containing
    * `pattern` ([[sitesWhere]]: every one that `matches`); comment lines
    * do not count. A method of an object nested at the top level of a
    * file's object is named `Object.method`. */
  private def sites(pattern: String): Set[(String, String)] = sitesWhere(_.contains(pattern))

  private def sitesWhere(matches: String => Boolean): Set[(String, String)] =
    sources(root).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toVector finally src.close()
      var obj = ""
      var method = ""
      lines.flatMap { line =>
        val t = line.trim
        "^\\s{2}(?:private(?:\\[\\w+\\])? )?(def|object) (\\w+)".r.findFirstMatchIn(line)
          .foreach { m => obj = if (m.group(1) == "object") m.group(2) else ""; method = m.group(2) }
        if (obj.nonEmpty)
          "^\\s{4}def (\\w+)".r.findFirstMatchIn(line).foreach(m => method = s"$obj.${m.group(1)}")
        val code = t.split("//", 2)(0)
        if (!t.startsWith("*") && !t.startsWith("/*") && matches(code)) Some(f.getName -> method)
        else None
      }
    }.toSet

  private val kept = Set(
    "Kernel.scala" -> "apply",
    "Multimodal.scala" -> "gifFramePixels",
    "Video.scala" -> "aviFramePixels",
    "Audio.scala" -> "frameEnergies",
    "Torch.scala" -> "autoKvWindow",
    "Similarity.scala" -> "ivfPqTopKBatch")

  test("mapPartitions runs only in Kernel and the five kernels that do not append") {
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    assert(sites(".mapPartitions") == kept)
  }

  test("no hand-rolled append frame outside Kernel and the kept kernels") {
    assert(sites("it.grouped(") == Set("Kernel.scala" -> "apply", "Torch.scala" -> "autoKvWindow"))
    assert(sites("Encoders.row(").subsetOf(kept))
    assert(sites("Row.fromSeq(r.toSeq").isEmpty)
  }

  test("Torch opens bounded and re-rotated KV sessions only through its one opener") {
    val opener = Set("Torch.scala" -> "openSession")
    assert(inTorch("decodeSessionWindowed(") == Set("openSession"))
    assert(inTorch("decodeSessionRelPos(") == Set("openSession"))
    val branch = "if \\([^)]*\\b(relPos|windowed|nWindow > 0)".r
    assert(sitesWhere(branch.findFirstIn(_).isDefined).filter(_._1 == "Torch.scala") == opener,
      "a bounded or re-rotated KV branch outside the opener")
  }

  test("Torch defines no cross-pair, windowed or fused copy of a generator") {
    val src = scala.io.Source.fromFile(new java.io.File(root, "torch/Torch.scala"), "UTF-8")
    val copies = try src.getLines().flatMap("^  def (\\w+(?:Pair|Windowed|Fused))\\(".r.findFirstMatchIn(_))
      .map(_.group(1)).toList finally src.close()
    assert(copies.isEmpty, copies)
  }

  private def inTorch(pattern: String) = sites(pattern).filter(_._1 == "Torch.scala").map(_._2)

  /** The Torch methods that call `name` (its definition excluded). */
  private def callers(name: String) =
    sitesWhere(c => c.contains(s"$name(") && !c.contains(s"def $name("))
      .filter(_._1 == "Torch.scala").map(_._2)

  test("the speculative proposers and the multi-round walk are called only from the shared walks") {
    assert(callers("draftTree") == Set("Spec.treeWalk"))
    assert(callers("multiRoundWalk") == Set("Spec.cycle", "Spec.level"))
    assert(callers("lookupDraft") == Set("Spec.lookupWalk", "Spec.lookupSampledWalk"))
    assert(callers("level") == Set("Spec.stochasticWalk", "speculativeSampled",
      "speculativeSampledMultiDraft", "speculativeSampledMultiDraftLoop"))
  }

  test("every speculative cell and serving loop runs through a shared walk or the driver") {
    assert(inTorch("Spec.treeWalk(") == Set("treeDraftGreedy", "treeDraftTypical",
      "treeDraftGreedyLoop", "treeDraftTypicalLoop"))
    assert(inTorch("Spec.treeSampledWalk(") == Set("treeDraftStochastic", "treeDraftStochasticLoop"))
    assert(inTorch("Spec.lookupWalk(") == Set("generatePromptLookup", "generatePromptLookupLoop"))
    assert(inTorch("Spec.lookupSampledWalk(") == Set("promptLookupSampled"))
    assert(inTorch("Spec.cycle(") == Set("speculativeSampledGamma", "speculativeSampledLoop"))
    assert(inTorch("Spec.serve(") == Set("speculativeSampledLoop", "generatePromptLookupLoop",
      "treeDraftGreedyLoop", "treeDraftTypicalLoop", "treeDraftStochasticLoop",
      "speculativeSampledMultiDraftLoop"))
  }

  test("a maxNewTokens cycle loop runs only in the serving driver") {
    assert(inTorch("< maxNewTokens") == Set("Spec.serve"))
  }

  test("Torch defines q6 once") {
    assert(inTorch("def q6(") == Set("q6"))
    val src = scala.io.Source.fromFile(new java.io.File(root, "torch/Torch.scala"), "UTF-8")
    val defs = try src.getLines().count(_.contains("def q6(")) finally src.close()
    assert(defs == 1)
  }

  test("the null-safe array decode lives only in Kernel's shared decoders") {
    assert(sites("java.lang.Number =>") == Set("Kernel.scala" -> "ints", "Kernel.scala" -> "floats"))
  }
}
