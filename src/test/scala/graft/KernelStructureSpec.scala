package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * [[Kernel]] is the only path for scan-side kernels that append columns
 * row for row: outside it, a `mapPartitions` (or its hand-rolled frame:
 * `it.grouped(`, `Encoders.row(`, `Row.fromSeq(r.toSeq :+`) may appear
 * only in the five kernels whose output is not one row per input row,
 * and the null-safe `java.lang.Number` array decode only in Kernel's
 * shared decoders.
 */
class KernelStructureSpec extends AnyFunSuite {
  private val root = new java.io.File("src/main/scala/graft")

  private def sources(dir: java.io.File): Seq[java.io.File] =
    dir.listFiles().toSeq.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  /** (file name, enclosing method) of every code line matching `pattern`;
    * comment lines do not count. */
  private def sites(pattern: String): Set[(String, String)] =
    sources(root).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toVector finally src.close()
      var method = ""
      lines.flatMap { line =>
        val t = line.trim
        "^\\s{2}(?:private(?:\\[\\w+\\])? )?def (\\w+)".r.findFirstMatchIn(line)
          .foreach(m => method = m.group(1))
        val code = t.split("//", 2)(0)
        if (!t.startsWith("*") && !t.startsWith("/*") && code.contains(pattern)) Some(f.getName -> method)
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

  test("the null-safe array decode lives only in Kernel's shared decoders") {
    assert(sites("java.lang.Number =>") == Set("Kernel.scala" -> "ints", "Kernel.scala" -> "floats"))
  }
}
