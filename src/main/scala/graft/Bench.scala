package graft

/** Benchmark main — driver contract: print ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}
  * over SPARK_GRAFT_SF_DIR at local[cpus].
  */
object Bench {

  /** Host load (1/5/15-min averages) from /proc/loadavg, as a JSON
    * array fragment — self-recorded so a contention-inflated run is
    * adjudicable from the artifact alone (round-3 lesson: driver
    * numbers read 6-20x hot under load ~30 and needed an out-of-band
    * re-run to clear; see memory/bench-environment-findings). */
  private def loadavg(): String =
    try {
      val parts = scala.io.Source.fromFile("/proc/loadavg").mkString
        .trim.split("\\s+")
      s"[${parts(0)},${parts(1)},${parts(2)}]"
    } catch { case _: Throwable => "null" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val loadBefore = loadavg()
    val tStartMs = System.currentTimeMillis()
    val spark = LocalSession(32)
    // graft read-path A/B: SPARK_GRAFT_READPATH=v1 benches the v1
    // fallback against the default DSv2 route
    spark.conf.set("spark.graft.readPath",
      sys.env.getOrElse("SPARK_GRAFT_READPATH", "v2"))
    spark.sparkContext.setLogLevel("WARN")

    // Absorb one-time session/executor startup so the first timed query
    // isn't charged for JVM warm-up (measures queries, not spin-up).
    // The tiny parquet read loads the datasource/parquet reader class
    // stack (~1-2 s of one-time class-loading + JIT otherwise charged
    // to whichever query happens to run first).
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()

    // Optional args (dev only): name prefixes to bench a subset.
    val defs =
      if (args.nonEmpty) SparkEntry.allDefs.filter(q => args.exists(q.name.startsWith))
      else SparkEntry.allDefs
    val results = defs.map { q =>
      val t0 = System.nanoTime()
      val err =
        try { q.fn(spark, sfDir).count(); None }
        catch { case e: Throwable => Some(e.toString.take(300)) }
      val dt = (System.nanoTime() - t0) / 1e9
      // Drop blocks persisted inside the query plan: without this, one
      // query's MEMORY_AND_DISK cache bleeds into every later
      // measurement (round-1 bench: the ETL family measured 4-20× its
      // standalone time purely from accumulated cache pressure).
      spark.sharedState.cacheManager.clearCache()
      // ...and RDD blocks pinned by localCheckpoint (GraphOps /
      // iterative loops): those aren't DataFrame cache entries, so
      // clearCache() can't drop them and they'd accumulate across the
      // 180-query run, eroding the memory the later queries measure in.
      spark.sparkContext.getPersistentRDDs.values.foreach(
        _.unpersist(blocking = false))
      System.err.println(
        f"[bench] ${q.name}%-28s $dt%8.2f s" + err.fold("")(e => s"  FAILED: $e"))
      (q.name, dt, err)
    }
    def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      }
    // Failed queries are reported with NEGATIVE duration and an entry in
    // "errors", so the driver can tell a crash from a fast pass.
    val qs = results.map { case (k, v, err) =>
      "\"" + k + "\":" + (if (err.isDefined) -v else v)
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e)) =>
      "\"" + k + "\":\"" + esc(e) + "\""
    }.mkString("{", ",", "}")
    // Headline total is wall-clock actually spent, failures included —
    // excluding a crashed query's elapsed time would make a broken run
    // compare FASTER than a clean one. Failures stay visible as
    // negative per-query durations plus the errors map.
    val total = results.map(_._2).sum
    // Environment stamp: wall-clock bounds + host load before/after.
    // A [1m,5m,15m] load far above the core count means the numbers
    // are contention-inflated, not a regression — the artifact now
    // carries its own evidence either way.
    val env = s""""t_start_ms":$tStartMs,"t_end_ms":${System.currentTimeMillis()},""" +
      s""""load_before":$loadBefore,"load_after":${loadavg()}"""
    // The driver captures only the LAST 2000 chars of stdout and parses
    // the JSON line out of that tail (rounds 4-5: the full per-query map
    // for a 200-entry catalog is ~8 KB, the opening brace fell outside
    // the window, and both rounds recorded "parsed": null). So: full
    // detail goes to bench_detail.json next to the build, and stdout
    // carries a compact line — totals, error count, and only the slowest
    // queries at 3-decimal precision — sized to fit the tail window.
    val detailPath = java.nio.file.Paths.get("bench_detail.json").toAbsolutePath
    java.nio.file.Files.write(detailPath,
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir",$env}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val slowest = results.sortBy(-_._2).take(12).map { case (k, v, err) =>
      f""""$k":${if (err.isDefined) -v else v}%.3f"""
    }.mkString("{", ",", "}")
    val errsShort = results.collect { case (k, _, Some(e)) =>
      "\"" + k + "\":\"" + esc(e.take(80)) + "\""
    }.take(3).mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},""" +
      s""""n_errors":${results.count(_._3.isDefined)},"queries":$slowest,""" +
      s""""errors":$errsShort,"sf":"$sfDir","detail":"$detailPath",$env}"""
    println(line)
    spark.stop()
    // Print the line AGAIN as the final pre-exit stdout write: rounds
    // 6-7 still recorded "parsed": null because sbt's [info]/[success]
    // trailer after spark.stop() can push the (single) line out of the
    // driver's 2000-char stdout tail. Emitting it last, flushed, after
    // Spark's own shutdown chatter maximizes the chance the tail
    // window contains one complete copy; duplicates are harmless to a
    // tail parser.
    println(line)
    System.out.flush()
    // Round 9: r8's tail carried a late task-retry stack trace that
    // still displaced the line. Three flushed copies back-to-back make
    // one complete line survive any 2000-char window that ends after
    // them, and a JVM shutdown hook emits one FINAL raw copy after all
    // other exit chatter had its chance.
    (1 to 2).foreach(_ => println(line))
    System.out.flush()
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      System.out.println(line)
      System.out.flush()
    }))
    // Round 10: stdout-tail wrapping has cost the driver's parser the
    // line for five rounds despite everything above — when the env
    // names a file, write the compact line THERE too and sidestep
    // stdout entirely (a driver that knows the env can read the file;
    // one that doesn't is no worse off).
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { out =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }
}
