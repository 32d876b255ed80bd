package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, printing one JSON line (the driver captures the
  * last 2000 chars of output and parses that line).
  *
  * Measurement protocol — shaped by the measured host-level noise
  * (BASELINE.md "round-4 note": identical binaries swing 40→166s from
  * outside the VM):
  *
  *  - each query is timed SPARK_GRAFT_BENCH_RUNS times (default 3) and
  *    the MINIMUM is reported — min-of-N is the least-noise estimator
  *    for a deterministic workload;
  *  - the passes are INTERLEAVED (pass 1 times every query, then pass
  *    2, ...), with the query order rotated between passes, so a noisy
  *    multi-minute host window cannot poison every sample of one query
  *    (round 4's q22 logged 25s on both of its back-to-back runs while
  *    its strict superset q61 logged 3.0s minutes later — the work was
  *    identical, the window was not);
  *  - an untimed warmup runs the heavy near-dup pipeline and touches
  *    every table, so first-query JIT/codegen/page-cache costs are not
  *    charged to whichever query runs first.
  *
  * Output discipline: the JSON line must be the LAST line and fit the
  * driver's 2000-char tail with room to spare, so the queries map uses
  * the short "qNN" keys (the spec's own example format) and 3-decimal
  * seconds, and it is printed AFTER spark.stop() so no Spark log line
  * can land after it. The full-name, full-precision timings go to
  * BENCH_LOCAL.json in the repo for human reading.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.ts is TIMESTAMP(NANOS); Spark 4 needs the legacy conf to
      // read it (SparkEntry.events sets it lazily, but the warmup scan
      // below touches the table before any query runs)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: JVM/codegen/parquet-footer costs land here, not
    // in the first measured query. Touch every table the queries read
    // so OS page-cache state is uniform across runs, then run the two
    // heaviest composed pipelines once to absorb their one-shot
    // codegen/checkpoint costs.
    spark.range(1000).selectExpr("sum(id)").collect()
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings"))
      spark.read.parquet(s"$sfDir/$t.parquet").foreach(_ => ())
    for (w <- Seq("q22_minhash_lsh", "q75_retrieval_prep", "q21_jaccard_pairs"))
      try SparkEntry.queries(w)(spark, sfDir).count()
      catch { case _: Throwable => () }

    val names = SparkEntry.queries.keys.toSeq
    val samples = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.ArrayBuffer[Double]]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def timeOne(name: String): Unit =
      try {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).count()
        val t = (System.nanoTime() - t0) / 1e9
        samples.getOrElseUpdate(name, scala.collection.mutable.ArrayBuffer()) += t
      } catch {
        case e: Throwable =>
          samples.remove(name)
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
    for (pass <- 0 until runs) {
      // rotate the start point each pass: a slow window hits a
      // DIFFERENT run-order neighborhood every time
      val offset = pass * names.size / runs
      val order = names.drop(offset) ++ names.take(offset)
      for (name <- order if !errors.contains(name)) timeOne(name)
    }
    // tail hardening: queries still over the threshold get extra
    // interleaved samples, so one noisy host window cannot silently
    // become a heavy query's reported number (r10's q112 artifact:
    // all three samples landed in a 4x window; with extra samples the
    // min recovers and min != median flags the noise)
    val tailRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_TAIL_RUNS", "2").toInt.max(0)
    val tailThreshold = sys.env.getOrElse("SPARK_GRAFT_BENCH_TAIL_SEC", "2.0").toDouble
    val tail = names.filter(n => samples.get(n).exists(_.min > tailThreshold))
    for (_ <- 0 until tailRuns; name <- tail if !errors.contains(name)) timeOne(name)
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val medians = scala.collection.mutable.LinkedHashMap[String, Double]()
    for ((name, ss) <- samples) {
      timings(name) = ss.min
      val sorted = ss.sorted
      medians(name) = sorted(sorted.length / 2)
    }

    // ANN index/query split: time each ANN query's BUILD phase (train +
    // encode, the exact in-query parameters) once, so BENCH_LOCAL.json
    // shows how much of the query's wall time is index construction —
    // amortized to ~zero at scale, where the index persists
    // (Similarity.saveIndex/loadIndex). Printed driver line unchanged.
    val annSplit = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    for ((name, build) <- SparkEntry.annBuild if timings.contains(name)) {
      try {
        val t0 = System.nanoTime()
        build(spark, sfDir)
        annSplit(name) = ((System.nanoTime() - t0) / 1e9, timings(name))
      } catch { case _: Throwable => () }
    }
    // amortized leg: one-time save/reopen untimed, then min-of-2 on
    // the reopened-index search — the steady-state per-batch cost
    val annAmortized = scala.collection.mutable.LinkedHashMap[String, Double]()
    for ((name, prep) <- SparkEntry.annPersisted if timings.contains(name)) {
      try {
        val search = prep(spark, sfDir)
        search() // warm the reopened plan
        val ts = (0 until 2).map { _ =>
          val t0 = System.nanoTime(); search(); (System.nanoTime() - t0) / 1e9
        }
        annAmortized(name) = ts.min
      } catch { case _: Throwable => () }
    }

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    // stable full-name order for both outputs
    val ordered = names.flatMap(n => timings.get(n).map(n -> _))
    val total = ordered.map(_._2).sum
    def line(keyOf: String => String, fmt: Double => String,
             esOf: => String): String = {
      val qs = ordered.map { case (k, v) => s"${jstr(keyOf(k))}:${fmt(v)}" }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$runs,""" +
        s""""failed":${errors.nonEmpty},"n_errors":${errors.size},""" +
        s""""queries":$qs,"errors":$esOf,"sf":"$sfDir"}"""
    }
    val fullErrors =
      errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    // The driver parses only the LAST ~2000 chars of output: a full error
    // dump for many failing queries would push the JSON head out of the
    // window and truncate strings mid-token, reading as parsed:null with
    // rc 0 (ADVICE r8). The printed line therefore carries only the
    // failing queries' SHORT names (worst case, all 121 failing, that is
    // ~700 chars on top of an EMPTY queries map — the two never grow
    // together, since a query is either timed or errored); the error text
    // lives in BENCH_LOCAL.json and n_errors counts them, and the process
    // exits nonzero on any error so the runner can never file a failing
    // run as green (ADVICE r9: message values, even truncated, could
    // still blow the window when the query map is near-full).
    val shortErrors =
      errors.keys.map(k => jstr(k.takeWhile(_ != '_'))).mkString("[", ",", "]")
    // full-precision, full-name copy for humans (BASELINE.md cross-ref);
    // carries the ANN build/query split the short line has no room for
    val annJson = annSplit.map { case (k, (b, q)) =>
      val am = annAmortized.get(k).map(a => s""","query_amortized_s":$a""").getOrElse("")
      s"""${jstr(k)}:{"build_s":$b,"query_total_s":$q$am}"""
    }.mkString("{", ",", "}")
    // medians beside mins: min != median is the noisy-window tell
    val medJson = ordered.map { case (k, _) => s"${jstr(k)}:${medians(k)}" }
      .mkString("{", ",", "}")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/root/repo/BENCH_LOCAL.json"),
      line(identity, _.toString, fullErrors).dropRight(1) +
        s""","medians":$medJson,"ann_split":$annJson}""" + "\n")
    catch { case _: Throwable => () }
    spark.stop()
    // The driver captures only the LAST ~2000 chars of output. At 200+
    // queries even the short-key per-query map is ~2.7kB, so r13's
    // driver artifact truncated mid-map (BENCH_r13.json parsed:null,
    // VERDICT r13 item 1). Protocol since r14: the full short-key line
    // prints FIRST (humans / generous captures), and the LAST line is a
    // compact summary guaranteed to fit the tail — total, counts, the
    // top-12 slowest queries, and (capped) failing-query names. The
    // complete per-query map always lives in BENCH_LOCAL.json.
    println(line(_.takeWhile(_ != '_'), v => f"$v%.3f", shortErrors))
    val errNames = errors.keys.take(40).map(k => jstr(k.takeWhile(_ != '_')))
    val errJson = (if (errors.size > 40) errNames ++ Seq(jstr(s"+${errors.size - 40}"))
                   else errNames).mkString("[", ",", "]")
    // Round-20 (VERDICT r19 item 2/7): the driver's per-query
    // round-over-round comparison parses the LAST line's "queries" map,
    // and r14-r19's compact tail line dropped it entirely (the full map
    // is ~4kB at 304 queries — it overflowed the 2000-char tail, so
    // PERF_r19.json came back with per_query empty). The last line now
    // carries a "queries" map packed SLOWEST-FIRST under a hard budget
    // that keeps the whole line inside the tail: every query of any
    // performance weight fits (~120 entries at 3 decimals — the
    // remainder is the sub-0.3s scheduling-bound tail), and
    // "n_shown"/"omitted_sec" reconcile the shown subset against the
    // total. Nothing is removed: the full short-key map still prints
    // FIRST, and BENCH_LOCAL.json keeps full names and precision.
    val slowestFirst = ordered.sortBy { case (k, v) => (-v, k) }
    val byTime = slowestFirst
      .map { case (k, v) => s"${jstr(k.takeWhile(_ != '_'))}:${f"$v%.3f"}" }
    val head =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","runs":$runs,""" +
        s""""n":${ordered.size},"failed":${errors.nonEmpty},"n_errors":${errors.size},""" +
        s""""errors":$errJson,"queries":{"""
    // fixed-size worst-case tail reservation: "},"n_shown":NNN,
    // "omitted_sec":NNNN.NNN,"sf":"<dir>"}" — budget the whole line to
    // ~1900 chars so the driver's 2000-char capture can never truncate it
    val reserve = 48 + sfDir.length
    val budget = 1900 - head.length - reserve
    // the longest slowest-first PREFIX within budget: stop at the first
    // entry that does not fit, so the map stays strictly slowest-first
    // and `omitted_sec` is exactly the time of the unshown tail
    val nShown = byTime.scanLeft(0)(_ + _.length + 1).tail.takeWhile(_ <= budget).size
    val shown = byTime.take(nShown)
    val shownTotal = slowestFirst.take(nShown).map(_._2).sum
    println(head + shown.mkString(",") +
      s"""},"n_shown":${shown.size},"omitted_sec":${f"${total - shownTotal}%.3f"},""" +
      s""""sf":"$sfDir"}""")
    System.out.flush()
    if (errors.nonEmpty) sys.exit(1)
  }
}
