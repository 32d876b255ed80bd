package graft.bench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.SparkEntry
import graft.operators.Similarity

/** One benchmark run: set up a workload, warm it to steady state, then
  * run its operations in seed-permuted passes as a single closed-loop
  * client, checking every result against its recorded digest.
  *
  * `run.py` launches this main; see README.md for workloads and metrics.
  * Modes:
  *  - default: timed run, metrics written as JSON to `--out`;
  *  - `--record <verify-dir>`: write the workload's expected digests from a checked
  *    `graft.Verify` output directory (searches are recomputed on a
  *    freshly trained, never persisted index).
  * Each pass's time and each operation's latencies go to stderr.
  */
object Main {

  final case class Args(
      workload: String = "", seed: Long = 1L, seconds: Double = 10,
      trace: Boolean = false, data: String = "", work: String = "",
      out: String = "", spans: String = "", expected: String = "", launchMs: Long = 0L,
      record: String = "") {
    /** The fixture directory at the workload's scale. */
    def dataDir: String = s"$data/${Workloads(workload).scale}"
  }

  def parse(a: List[String], acc: Args = Args()): Args = a match {
    case "--workload" :: v :: t => parse(t, acc.copy(workload = v))
    case "--seed" :: v :: t => parse(t, acc.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, acc.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, acc.copy(trace = v == "1"))
    case "--data" :: v :: t => parse(t, acc.copy(data = v))
    case "--work" :: v :: t => parse(t, acc.copy(work = v))
    case "--out" :: v :: t => parse(t, acc.copy(out = v))
    case "--spans" :: v :: t => parse(t, acc.copy(spans = v))
    case "--expected" :: v :: t => parse(t, acc.copy(expected = v))
    case "--launch-ms" :: v :: t => parse(t, acc.copy(launchMs = v.toLong))
    case "--record" :: v :: t => parse(t, acc.copy(record = v))
    case Nil => acc
    case other => sys.error(s"unknown arguments: ${other.mkString(" ")}")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val cores = Runtime.getRuntime.availableProcessors().min(Workloads(a.workload).maxCores)
    val spark = SparkSession.builder()
      .appName("graftbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark's default of 100 generated classes is smaller than the
      // pipeline mix needs, so each pass would recompile (Janino) and
      // re-JIT its operators and never reach a steady state (see README)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      if (a.record.nonEmpty) Record(spark, a)
      else new Run(spark, a, cores).apply()
    } finally spark.stop()
  }
}

/** An operation of a workload: a query of `SparkEntry.queries`, or a
  * search on an index persisted at set-up. */
final case class Op(name: String, kind: String, build: () => DataFrame)

/** A workload: its query mix, the fixture scale it reads, the point
  * searches it runs on persisted indexes, the time of a steady pass on
  * the reference host (4 vCPU; it sizes the timed region), and the most
  * cores it runs on. */
final case class Workload(name: String, scale: String, queries: Seq[String],
    searches: Seq[String] = Nil, passS: Double, maxCores: Int = Int.MaxValue)

object Workloads {
  val all: Seq[Workload] = Seq(
    // driver-bound at sf0.01 (its tasks keep about one core busy), so
    // more cores add no speed, only stages that wait on a preempted one
    Workload("pipeline", "sf0.01", Seq("q17_text_stats", "q22_minhash_lsh", "q100_ingest_pipeline"),
      searches = Seq("q106_ann_ivfpq"), passS = 2.7, maxCores = 2),
    Workload("inference", "sf0.1", Seq(
      "q107_torch_embedding", "q113_torch_textcnn", "q194_torch_generate", "q257_torch_gen_fused"),
      passS = 3.9))
  /** Encoder queries: one result row per model input row. */
  val encoders: Set[String] = Set("q107_torch_embedding", "q113_torch_textcnn")
  /** Queries whose results carry generated tokens. */
  val generators: Set[String] = Set("q194_torch_generate", "q257_torch_gen_fused")

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    sys.error(s"unknown workload $name (one of ${all.map(_.name).mkString(", ")})"))
}

/** Result digests: rows are rendered field by field (floating point to
  * nine significant digits, so partial-aggregate merge order cannot
  * move a digest), sorted, and hashed. */
object Digest {
  private def render(v: Any): String = v match {
    case null => "~"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else String.format(java.util.Locale.ROOT, "%.9g", Double.box(d))
    case f: Float => render(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case other => other.toString
  }
  def of(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.iterator.map(render).toArray.sorted.foreach { s => md.update(s.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().take(12).map(x => f"$x%02x").mkString
  }

  /** name -> (rows, digest) */
  def load(path: String): Map[String, (Long, String)] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('\t')).map(f => f(0) -> (f(1).toLong, f(2))).toMap
}

/** Persisted IVFADC indexes for the point searches, with the parameters
  * of `SparkEntry.annPersisted`. `persist = None` trains a fresh index
  * and searches it in memory: the path the same-named query takes. */
object Ann {
  final case class Spec(nlist: Int, shortlist: Int, nprobe: Int)
  val specs: Map[String, Spec] = Map("q106_ann_ivfpq" -> Spec(nlist = 16, shortlist = 100, nprobe = 14))

  /** Trains (and persists and reopens) the index; returns the search. */
  def prepare(spark: SparkSession, dir: String, name: String, persist: Option[String]): () => DataFrame = {
    val sp = specs(name)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
    val ix0 = Similarity.ivfPqTrain(emb, "embedding", dim = 64, nlist = sp.nlist, m = 8, ksub = 32)
    val codes0 = Similarity.ivfPqEncode(emb, "vec_id", "embedding", ix0)
    val (ix, codes) = persist match {
      case Some(p) =>
        Similarity.saveIndex(spark, ix0, s"$p/ix")
        codes0.write.mode("overwrite").parquet(s"$p/codes")
        (Similarity.loadIndex(spark, s"$p/ix"), spark.read.parquet(s"$p/codes"))
      case None => (ix0, codes0)
    }
    val q = emb.filter(col("vec_id") < 20)
    () => Similarity.ivfPqTopKReranked(emb, codes, q, "vec_id", "embedding", ix,
      k = 5, shortlist = sp.shortlist, nprobe = sp.nprobe)
  }
}

object Record {
  /** Writes the workload's expected digests from the parquet outputs of
    * a `graft.Verify` run (directory `a.record`) that the DuckDB oracle
    * has checked; searches are digested from a freshly trained index. */
  def apply(spark: SparkSession, a: Main.Args): Unit = {
    val w = Workloads(a.workload)
    val lines = w.queries.map { q =>
      val rows = spark.read.parquet(s"${a.record}/$q").collect()
      s"$q\t${rows.length}\t${Digest.of(rows)}"
    } ++ w.searches.map { s =>
      val rows = Ann.prepare(spark, a.dataDir, s, None)().collect()
      s"search:$s\t${rows.length}\t${Digest.of(rows)}"
    }
    val header = s"# ${w.name} at ${w.scale}: operation, result rows, digest (see Digest); " +
      "queries from an oracle-checked graft.Verify output, searches from a freshly trained index"
    Files.write(Paths.get(a.expected), (header +: lines).mkString("", "\n", "\n").getBytes(UTF_8))
    System.err.println(s"[graftbench] recorded ${lines.size} digests to ${a.expected}")
  }
}

/** One execution of an operation. */
final case class Exec(op: String, pass: Int, span: String, latencyS: Double, buildMs: Double,
    planMs: Double, collectMs: Double, collectT0: Long, collectT1: Long,
    phases: Map[String, Long], rows: Long, tokens: Long, ok: Boolean)

final class Run(spark: SparkSession, a: Main.Args, cores: Int) {
  private val sc = spark.sparkContext
  private val expected = Digest.load(a.expected)
  private val w = Workloads(a.workload)
  private val trace = new Trace
  private var failures = 0
  private var mismatches = 0
  private var spanSeq = 0
  private val indexBuildMs = mutable.ArrayBuffer[Double]()

  private def log(s: String): Unit = System.err.println(s"[graftbench] $s")

  /** Generated tokens in a generator's result: its genN, tokN and nextN columns. */
  private def tokensOf(rows: Array[Row]): Long =
    if (rows.isEmpty) 0L else {
      val f = rows.head.schema.fieldNames.zipWithIndex
        .filter { case (n, _) => n.matches("(gen|tok|next)_?[0-9]+") }.map(_._2)
      rows.iterator.map(r => f.count(i => !r.isNullAt(i)).toLong).sum
    }

  private def execute(op: Op, pass: Int): Exec = {
    spanSeq += 1
    val span = s"${op.name}#$spanSeq"
    def tag(phase: String): Unit =
      if (a.trace) sc.setLocalProperty(Trace.Key, if (phase == null) null else s"$span/$phase")
    val t0 = System.nanoTime()
    try {
      tag("build")
      val df = op.build()
      val t1 = System.nanoTime()
      var phases = Map.empty[String, Long]
      if (a.trace) {
        tag("plan")
        df.queryExecution.executedPlan
        phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
      }
      val t2 = System.nanoTime()
      tag("collect")
      val c0 = System.currentTimeMillis()
      val rows = df.collect()
      val c1 = System.currentTimeMillis()
      val t3 = System.nanoTime()
      tag(null)
      val key = if (op.kind == "search") s"search:${op.name}" else op.name
      val ok = expected.get(key).exists { case (n, d) => n == rows.length && d == Digest.of(rows) }
      if (!ok) {
        mismatches += 1
        log(s"MISMATCH ${op.name}: ${rows.length} rows, digest ${Digest.of(rows)}, expected ${expected.get(key)}")
      }
      val tokens = if (Workloads.generators(op.name)) tokensOf(rows) else 0L
      Exec(op.name, pass, span, (t3 - t0) / 1e9, (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6,
        c0, c1, phases, rows.length, tokens, ok)
    } catch {
      case e: Exception =>
        tag(null)
        failures += 1
        log(s"FAILED ${op.name}: ${e.getClass.getName}: ${e.getMessage}")
        Exec(op.name, pass, span, (System.nanoTime() - t0) / 1e9, 0, 0, 0, 0, 0, Map.empty, 0, 0, ok = false)
    }
  }

  /** The workload's operations; builds and persists the search indexes
    * (set-up `rep` writes them to a directory of its own). */
  private def ops(rep: Int): Seq[Op] =
    w.queries.map { q =>
      val f = SparkEntry.queries(q)
      Op(q, "query", () => f(spark, a.dataDir))
    } ++ w.searches.map { s =>
      val t0 = System.nanoTime()
      val search = Ann.prepare(spark, a.dataDir, s, Some(s"${a.work}/index/$s/$rep"))
      indexBuildMs += (System.nanoTime() - t0) / 1e6
      Op(s, "search", search)
    }

  private def order(all: Seq[Op], pass: Int): Seq[Op] =
    new Random(a.seed * 1000003L + pass).shuffle(all)

  def apply(): Unit = {
    if (a.trace) sc.addSparkListener(trace)
    // Set-up, done Run.setups times: prepare the workload (indexes,
    // operations) and make one warm-up pass in a fixed order, so set-up
    // and the heap reading after it do not depend on the seed. The first
    // set-up is timed from launch (JVM and session start, and the cold
    // pass that pays JIT, codegen and model construction); setup_s is
    // the median, and the later passes bring the timed ones to steady
    // state (see README).
    var all = Seq.empty[Op]
    val setups = (1 to Run.setups).map { r =>
      val t0 = if (r == 1) a.launchMs else System.currentTimeMillis()
      all = ops(r)
      all.foreach(execute(_, -r))
      (System.currentTimeMillis() - t0) / 1000.0
    }
    val setupS = Run.median(setups)
    // retained heap after a fixed amount of work (set-up): Spark's status
    // stores grow with every execution, so a reading at the end of the
    // run would track how many passes fit. The pause lets Spark's
    // ContextCleaner drop the blocks of checkpoints whose RDDs the first
    // collection found unreachable.
    System.gc(); Thread.sleep(1000); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    log(f"set-ups ${setups.map(x => f"$x%.2f").mkString(" ")} s, setup_s ${setupS}%.2f s")
    if (a.trace) { org.apache.spark.BenchBus.drain(sc); trace.clear() }
    val gc0 = Run.gcMs()
    val t0 = System.nanoTime()
    val execs = mutable.ArrayBuffer[Exec]()
    // Whole passes, as many as fill --seconds on the reference host, so
    // every run weighs the query mix alike and does the same work. Passes
    // still speed up slowly after warm-up; counting them against the
    // clock would let a slow host time fewer, earlier, slower passes and
    // so exaggerate its slowness.
    val passes = Run.minPasses.max(math.round(a.seconds / w.passS).toInt)
    for (pass <- 0 until passes) {
      val p0 = System.nanoTime()
      val g0 = Run.gcMs()
      order(all, pass).foreach(op => execs += execute(op, pass))
      log(f"pass $pass ${(System.nanoTime() - p0) / 1e9}%.2f s, gc ${Run.gcMs() - g0} ms")
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val gcMs = Run.gcMs() - gc0
    for ((n, es) <- execs.groupBy(_.op).toSeq.sortBy(-_._2.map(_.latencyS).sum))
      log(f"  $n%-28s ${es.map(e => f"${e.latencyS}%.3f").mkString(" ")}")

    val busyS = execs.map(_.latencyS).sum
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    if (!a.trace) {
      val p50 = Run.opMedians(execs.toSeq)
      metrics("setup_s") = (setupS, "s")
      metrics("latency_p50_s") = (math.exp(p50.map(math.log).sum / p50.size), "s")
      metrics("queries_per_s") = (Run.queriesPerS(execs.toSeq), "1/s")
      metrics("retained_heap_mb") = (heapMb, "MB")
    } else {
      org.apache.spark.BenchBus.drain(sc)
      metrics ++= Layers(spark, a, w, trace, execs.toSeq, cores, busyS, gcMs, indexBuildMs.toSeq, setups)
      Layers.writeSpans(a, trace, execs.toSeq)
    }
    log(f"${execs.size} executions in $passes passes, ${wallS}%.2f s wall, ${busyS}%.2f s busy, " +
      s"$failures failed, $mismatches mismatched")
    val m = metrics.map { case (k, (v, u)) => s""""$k": {"value": $v, "unit": "$u"}""" }.mkString(", ")
    val json = s"""{"correct": ${mismatches == 0 && failures == 0}, "attempted": ${execs.size}, """ +
      s""""failed": ${execs.count(!_.ok)}, "metrics": {$m}}"""
    Files.write(Paths.get(a.out), json.getBytes(UTF_8))
  }
}

object Run {
  /** Set-ups per run; setup_s is their median. */
  val setups = 3

  /** Timed passes at least, however short --seconds is. */
  val minPasses = 3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  /** Each operation's median latency over its timed executions, so one
    * slow execution moves no metric built on them, and a mix of cheap and
    * dear operations cannot make a median jump between them. */
  def opMedians(execs: Seq[Exec]): Seq[Double] =
    execs.groupBy(_.op).values.map(es => median(es.map(_.latencyS))).toSeq

  /** Operations per second of a pass made of every operation's median. */
  def queriesPerS(execs: Seq[Exec]): Double = {
    val p50 = opMedians(execs)
    p50.size / p50.sum
  }

  /** Collection time of every JVM collector so far, in ms. */
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}
