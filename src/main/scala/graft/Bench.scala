package graft

/** Benchmark main.
  *
  * Two modes:
  *
  *  - ORCHESTRATOR (default): forks ONE CHILD JVM PER QUERY and assembles
  *    the per-query times into the driver's one-line JSON. Shared-JVM runs
  *    proved untrustworthy at this suite size: later queries absorb earlier
  *    queries' heap/codegen/shuffle debt (observed 3-10× inflation of
  *    individually-fast queries — q132 52.5 s in-suite vs 5.2 s isolated —
  *    even WITH cache-clear + System.gc at every boundary). A fresh JVM per
  *    query is the only isolation that holds; the child's session startup
  *    and warmup stay OUTSIDE the timed window, so the fork overhead costs
  *    wall-clock only, never measurement.
  *  - CHILD (`SPARK_GRAFT_BENCH_CHILD=1`): the previous in-JVM loop over
  *    the selected queries, printing the same one-line JSON. Also usable
  *    directly for quick local iteration via SPARK_GRAFT_BENCH_ONLY.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional comma-separated subset for local iteration; driver runs all
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val isChild = sys.env.contains("SPARK_GRAFT_BENCH_CHILD")
    // ALSO archive the complete JSON to a file (orchestrator only): the
    // driver's BENCH_r{N} artifact stores only a bounded tail of stdout,
    // which truncated the per-query map in past rounds.
    // subset runs (SPARK_GRAFT_BENCH_ONLY) never touch the default full
    // artifact — an ad-hoc 5-query iteration must not clobber the
    // committed full-suite BENCH_FULL.json
    val archive = !isChild && (only.isEmpty || sys.env.contains("SPARK_GRAFT_BENCH_OUT"))
    if (isChild) {
      val (results, sentinels) = runInProcess(sfDir, selected)
      val line = renderLine(results, selected, isChild, sfDir, sentinels)
      println(line)
    } else {
      val (results, sentinels) = orchestrate(sfDir, selected, archive)
      val line = renderLine(results, selected, isChild, sfDir, sentinels)
      println(line)
      // promote only COMPLETE runs (no budget-skipped queries) to the
      // real artifact; a truncated run lands in BENCH_PARTIAL.json
      val ran = results.map(_._1).toSet
      val complete = selected.forall(ran)
      if (archive) writeArtifact(line, partial = !complete)
    }
  }

  /** Assemble the one-line JSON. `value`/`queries` cover SUCCEEDED queries
    * only — a crashed query's near-zero analysis-time duration must never
    * masquerade as a fast run or make totals incomparable across rounds;
    * `failures` carries crashes, `skipped` carries queries the wall-clock
    * budget never reached (distinct from failures: they did not run at all,
    * and a truncated total must be recognizable as truncated). */
  private def renderLine(results: Seq[(String, Double, Boolean)],
                         selected: Seq[String], isChild: Boolean, sfDir: String,
                         sentinels: Seq[(String, Double)]): String = {
    val ran = results.map(_._1).toSet
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failures = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val skipped = selected.filterNot(ran).map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.collect { case (_, v, true) => v }.sum
    // per-group contention sentinel (one pinned floor query re-timed by
    // every child): a host-contended window shows as sentinel drift in
    // the committed artifact instead of needing forensic inference
    val sent = sentinels.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failures":$failures,"skipped":$skipped,"sentinels":$sent,"isolated":${!isChild},"sf":"$sfDir"}"""
  }

  /** Write the artifact line. `partial = true` (mid-run refreshes, and
    * final lines with a non-empty `skipped` list) diverts to the sibling
    * `BENCH_PARTIAL.json`: a budget-truncated run must NEVER overwrite a
    * committed complete 410-query artifact with a 350/60-skipped one
    * (which is exactly what the round-10 driver window did). Only a
    * complete run promotes to the real path. */
  private def writeArtifact(line: String, partial: Boolean): Unit = {
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH_FULL.json")
    val path = if (partial) {
      val p = java.nio.file.Paths.get(outPath)
      val name = Option(p.getFileName).map(_.toString).getOrElse("BENCH_FULL.json")
      val partName =
        if (name.endsWith(".json")) name.stripSuffix(".json") + "_PARTIAL.json"
        else name + "_PARTIAL"
      if (p.getParent == null) java.nio.file.Paths.get(partName)
      else p.getParent.resolve(partName)
    } else java.nio.file.Paths.get(outPath)
    try java.nio.file.Files.write(path,
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $path: ${e.getMessage}") }
  }

  /** Fork child JVMs over small GROUPS of queries; returns (name, seconds,
    * ok) per query. The child inherits this JVM's flags (add-opens, -Xmx,
    * -D) and classpath — `run / fork := true` in build.sbt makes both real.
    *
    * Group size trades isolation against wall-clock: one-query-per-JVM is
    * the purest isolation but costs ~10 s of JVM+session+warmup per fork —
    * at 280 queries that is ~45 min of pure overhead, which blew the
    * driver's bench time budget in round 7 (rc 124, no artifact at all).
    * Grouping amortizes the fork cost while the child's per-boundary
    * hygiene (cache clear + GC, outside the timed window) bounds
    * cross-query interference; [[planGroups]] picks per-query group sizes
    * from the previous round's cost profile.
    *
    * SPARK_GRAFT_BENCH_BUDGET_SEC (default 1320) bounds total orchestrator
    * wall: groups that would start past the budget are skipped and reported
    * in the JSON's `skipped` list — a truncated artifact beats the rc-124
    * nothing the round-7 driver run left behind. */
  private def orchestrate(sfDir: String, selected: Seq[String],
      archive: Boolean): (Seq[(String, Double, Boolean)], Seq[(String, Double)]) = {
    import scala.jdk.CollectionConverters._
    val javaBin = new java.io.File(new java.io.File(sys.props("java.home"), "bin"), "java").getPath
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val cp = sys.props("java.class.path")
    val groups = planGroups(selected)
    // Wall-clock budget: the round-7 driver bench was SIGKILLED mid-run
    // (rc 124) and left NO artifact at all — a truncated-but-parseable
    // artifact is strictly better than none. When the elapsed wall reaches
    // the budget, stop forking further groups; renderLine marks the
    // never-run queries as `skipped`. Each completed group also refreshes
    // the on-disk artifact, so even a hard kill leaves the latest
    // complete-so-far JSON in BENCH_FULL.json.
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SEC").map(_.toDouble).getOrElse(1320.0)
    val wall0 = System.nanoTime()
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Boolean)]
    val sents = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    // first-seen values per sentinel KIND ("child" floor / "hv" heavy):
    // the drift baseline must compare like with like — a heavy sentinel
    // against the first HEAVY sentinel, never against the floor
    val first = scala.collection.mutable.Map.empty[String, Double]
    groups.zipWithIndex.foreach { case ((names, timeoutMin, heavy), gi) =>
      val elapsed = (System.nanoTime() - wall0) / 1e9
      if (elapsed > budgetSec) {
        System.err.println(f"[bench] budget ${budgetSec}%.0f s exhausted at $elapsed%.0f s — skipping group(${names.head}…)")
      } else {
        val (rs, sent) = runGroup(javaBin, jvmArgs, cp, sfDir, names, timeoutMin, heavy)
        acc ++= rs
        sent.foreach { case (kind, s) =>
          sents += (f"g$gi%03d_${kind}_${names.head}" -> s)
          // drift flag against the first same-kind sentinel: >1.5× means a
          // contended window poisoned (at least) this group's numbers. The
          // heavy sentinel exists because round 9 proved the floor one
          // blind: a 32-way CPU-bound stage inflates 8× under host core
          // theft while a scheduling-floor query doesn't move.
          val h = first.getOrElseUpdate(kind, s)
          if (h > 0 && s / h > 1.5)
            System.err.println(f"[bench] SENTINEL DRIFT ($kind) group $gi: $s%.2f s vs first $h%.2f s (${s / h}%.1f×) — contended window")
        }
        // mid-run refreshes are by definition incomplete → partial path;
        // the complete final line promotes to the real artifact in main()
        if (archive)
          writeArtifact(renderLine(acc.toSeq, selected, isChild = false, sfDir, sents.toSeq),
            partial = true)
      }
    }
    (acc.toSeq, sents.toSeq)
  }

  /** Split the query list into fork groups, COST-TIERED off the previous
    * round's committed artifact (SPARK_GRAFT_BENCH_COSTS, default
    * BENCH_FULL.json):
    *
    *  - heavy (known ≥ 2.0 s): groups of 4 — near-isolation where the
    *    group-16 experiment measured real heap-debt inflation (q303 ran
    *    4× its isolated time behind 15 other queries), scheduled FIRST
    *    so a budget truncation can only ever cut floor queries;
    *  - medium / UNKNOWN cost (new queries land here): groups of 8, the
    *    size validated within ~15% of one-per-JVM on the heaviest
    *    queries in round 7;
    *  - cheap (known < 1.2 s): groups of 32 — floor-bound sub-second
    *    queries carry no heap debt, and 24-way amortization of the
    *    ~12 s fork+session startup is what keeps the whole suite inside
    *    the driver's bench window (the group-of-3/24 pilot measured 36
    *    forks = 432 s of pure startup and ran 44 queries past the
    *    budget; 4/32 buys the margin back, and its per-query numbers
    *    reproduced the committed artifact at median ratio 0.98).
    *
    * Within each tier, groups are formed by STRIDE interleaving (group i
    * takes tier indices i, i+G, …) so alphabetically-clustered heavy
    * families (graph, dedup) spread across forks instead of stacking.
    * SPARK_GRAFT_BENCH_GROUP=n overrides everything: single-tier stride
    * groups of n (n=1 is the old one-per-JVM behavior). */
  private def planGroups(selected: Seq[String]): Seq[(Seq[String], Int, Boolean)] = {
    def stride(names: Seq[String], size: Int): Seq[Seq[String]] = {
      val n = math.max(1, (names.size + size - 1) / size)
      (0 until n).map(i => names.indices.collect {
        case j if j % n == i => names(j)
      }).filter(_.nonEmpty)
    }
    sys.env.get("SPARK_GRAFT_BENCH_GROUP").map(_.toInt) match {
      case Some(size) => stride(selected, size).map((_, 20, false))
      case None =>
        val costs = loadCosts(sys.env.getOrElse("SPARK_GRAFT_BENCH_COSTS",
          "/root/repo/BENCH_FULL.json"))
        val (heavy, rest) = selected.partition(n => costs.get(n).exists(_ >= 2.0))
        val (cheap, medium) = rest.partition(n => costs.get(n).exists(_ < 1.2))
        // per-tier fork timeout: a heavy group of 4 on this documented-noisy
        // VM can legitimately overrun 10 min; killing it records all four
        // heaviest queries as failures, so the heavy tier keeps 20 min.
        // Heavy groups additionally re-time the pinned HEAVY sentinel
        // (third tuple slot): round 9's driver window inflated q269 8×
        // while every floor sentinel sat flat — only a CPU-bound sentinel
        // detects core theft from a CPU-bound tier.
        stride(heavy, 4).map((_, 20, true)) ++ stride(medium, 8).map((_, 12, false)) ++
          stride(cheap, 32).map((_, 10, false))
    }
  }

  /** Per-query seconds from a previous bench artifact's one-line JSON
    * (`"queries":{"name":sec,…}`). Missing/unreadable file → empty map →
    * everything lands in the medium tier. */
  private def loadCosts(path: String): Map[String, Double] =
    try {
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)
      // tolerate both the orchestrator's compact rendering and the
      // pretty-printed (": 1.03") form earlier merge scripts wrote
      val m = java.util.regex.Pattern
        .compile("\"(q[0-9][A-Za-z0-9_]*)\"\\s*:\\s*([0-9.eE+-]+)").matcher(text)
      val b = Map.newBuilder[String, Double]
      while (m.find()) b += m.group(1) -> m.group(2).toDouble
      b.result()
    } catch { case _: Exception => Map.empty }

  private def runGroup(javaBin: String, jvmArgs: Seq[String], cp: String,
                       sfDir: String, names: Seq[String], timeoutMin: Int,
                       heavySentinel: Boolean)
      : (Seq[(String, Double, Boolean)], Seq[(String, Double)]) = {
    import scala.jdk.CollectionConverters._
    {
      val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench")).asJava
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_BENCH_CHILD", "1")
      pb.environment().put("SPARK_GRAFT_BENCH_ONLY", names.mkString(","))
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      if (heavySentinel) pb.environment().put("SPARK_GRAFT_BENCH_HEAVY_SENTINEL", "1")
      pb.redirectErrorStream(false)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val t0 = System.nanoTime()
      try {
        val p = pb.start()
        // stdout is a handful of lines (Spark logs go to the inherited
        // stderr), far below the pipe buffer — safe to waitFor first and
        // drain afterwards, which keeps the timeout effective on a hang
        val exited = p.waitFor(timeoutMin.toLong, java.util.concurrent.TimeUnit.MINUTES)
        if (!exited) { p.destroyForcibly(); p.waitFor() }
        val out = new String(p.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        val line = out.linesIterator.find(_.startsWith("{\"metric\""))
        val wall = (System.nanoTime() - t0) / 1e9
        // both sentinel kinds from the child's sentinels object: the floor
        // ("child") always, the CPU-bound one ("hv") from heavy groups
        val sentinels = line.toSeq.flatMap { l =>
          val i = l.indexOf("\"sentinels\":{")
          if (i < 0) Nil else {
            val obj = l.substring(i + 13, l.indexOf('}', i))
            val m = java.util.regex.Pattern
              .compile("\"(child|hv)\":([0-9.eE+-]+)").matcher(obj)
            val b = Seq.newBuilder[(String, Double)]
            while (m.find()) b += (m.group(1) -> m.group(2).toDouble)
            b.result()
          }
        }
        val rs = names.map { name =>
          val time = line.flatMap { l =>
            val m = java.util.regex.Pattern
              .compile("\"" + java.util.regex.Pattern.quote(name) + "\":([0-9.eE+-]+)")
              .matcher(l)
            if (m.find()) Some(m.group(1).toDouble) else None
          }
          val childFailed = line.exists { l =>
            val i = l.indexOf("\"failures\":[")
            i >= 0 && {
              val f = l.substring(i)
              f.substring(0, f.indexOf(']')).contains("\"" + name + "\"")
            }
          }
          val ok = exited && p.exitValue() == 0 && time.isDefined && !childFailed
          System.err.println(f"[bench] $name: query=${time.getOrElse(-1.0)}%.3f s group-wall=$wall%.1f s ok=$ok")
          (name, time.getOrElse(0.0), ok)
        }
        (rs, sentinels)
      } catch { case e: Exception =>
        System.err.println(s"[bench] group(${names.head}…) fork FAILED: ${e.getMessage}")
        (names.map(n => (n, 0.0, false)), Nil)
      }
    }
  }

  /** The in-JVM loop of child mode.
    * Also times one pinned floor query (the contention sentinel) after
    * warmup — plus, when SPARK_GRAFT_BENCH_HEAVY_SENTINEL=1 (set by the
    * orchestrator for heavy-tier groups), one pinned CPU-BOUND query —
    * returned separately, never mixed into the measured set. */
  private def runInProcess(sfDir: String, selected: Seq[String])
      : (Seq[(String, Double, Boolean)], Seq[(String, Double)]) = {
    // the library session: GraftExtensions (custom strategies + native
    // expressions) and the scale-tuned defaults, same as Verify
    val spark = GraftSession.builder("graft-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup actions so the first measured query doesn't absorb session
    // startup: one count (scheduler/scan paths), one small noop write
    // through the vectorized parquet reader and the noop sink commit path,
    // and one tiny join+agg+window over the 25-row nation table to warm
    // the whole-stage-codegen compiler, exchange, hash-agg, sort and
    // window paths — fixed JVM costs that belong to the session, not to
    // whichever query happens to run first
    locally {
      import org.apache.spark.sql.functions._
      spark.read.parquet(s"${sfDir.stripSuffix("/")}/region.parquet").count()
      QueryRun.noop(spark.read.parquet(s"${sfDir.stripSuffix("/")}/lineitem.parquet")
        .limit(1000))
      val nat = spark.read.parquet(s"${sfDir.stripSuffix("/")}/nation.parquet")
      val reg = spark.read.parquet(s"${sfDir.stripSuffix("/")}/region.parquet")
      QueryRun.noop(nat.join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .groupBy(nat("n_regionkey")).agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("n"), col("n_regionkey")))))
    }
    // contention sentinels, warmed then timed at the target SF. The floor
    // one (scan+filter+project) catches scheduler-level contention; its
    // absolute value is the session floor. Heavy-tier groups ALSO time a
    // pinned CPU-bound query (q132 triangles — 32-way wedge counting):
    // round 9 showed host core theft inflating heavy queries 8× while the
    // floor sentinel sat flat, because a light query's fixed scheduling
    // cost doesn't move when a CPU-bound stage loses cores.
    def timeSentinel(name: String): Option[(String, Double)] =
      SparkEntry.queries.get(name).map { fn =>
        QueryRun.warm(fn(spark, _))
        QueryRun.timed(fn(spark, sfDir))._1
      }.map((name, _))
    val sentinels =
      timeSentinel("q02_filter_project").map { case (_, t) => ("child", t) }.toSeq ++
      (if (sys.env.get("SPARK_GRAFT_BENCH_HEAVY_SENTINEL").contains("1"))
        timeSentinel("q132_triangles").map { case (_, t) => ("hv", t) }.toSeq
      else Nil)
    val results = selected.map { name =>
      val fn = SparkEntry.queries(name)
      QueryRun.warm(fn(spark, _))
      val (dt, failure) = QueryRun.timed(fn(spark, sfDir))
      failure.foreach(e => System.err.println(s"[bench] $name FAILED: ${e.getMessage}"))
      QueryRun.hygiene(spark)
      (name, dt, failure.isEmpty)
    }
    spark.stop()
    (results, sentinels)
  }
}
