package graftbench

import graft.frontier.{Canon, Politeness, RoundState, ShardedSeen}
import graft.jobs.{Compaction, CrawlRound, ExtractJob}
import graft.synth.PagesGen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.io.File

final case class CrawlParams(pages: Long, roundSeconds: Double, checkpointEvery: Int,
                             resumeAt: Int, maxRounds: Int = 40)

final case class CrawlIn(pages: DataFrame, seeds: DataFrame, policy: DataFrame, p: CrawlParams)

final case class CrawlOut(stateDir: String, pass: Span, crawl: Span,
                          rounds: Seq[(CrawlRound.RoundStats, Span)],
                          checkpoints: Seq[Span], resume: Option[Span], publish: Option[Span]) {
  def scheduled: Long = rounds.map(_._1.scheduled).sum
}

/** The frontier -> politeness -> fetch -> extract round, driven exactly as
  * `CrawlMain` drives it (same `CrawlRound.run` arguments, lineage on,
  * checkpoints every K rounds), over a seeded `PagesGen` corpus stored as
  * parquet (CrawlMain's `--pagesDir` input).
  *
  * bulk-crawl: budgets cover the whole frontier, so the corpus is crawled in
  * three rounds (seeds, discovered links, empty).
  * incremental-crawl: small per-host budgets stretch a smaller corpus over
  * about ten rounds, with checkpoints, a resume on a freshly opened
  * RoundState half-way, and a final `Compaction.publish`.
  */
final class CrawlWorkload(val name: String, incremental: Boolean)
    extends Workload[CrawlIn, CrawlOut] {

  private val checkpointTables = Seq("seen", "crawled", "discovered", "metrics", "cooling")
  private val outTables = Seq("out_jobs", "out_companies", "out_locations", "out_skills", "out_junction")

  private def params(tiny: Boolean): CrawlParams = (incremental, tiny) match {
    case (false, false) => CrawlParams(2500, 1e6, 0, -1)
    case (false, true) => CrawlParams(200, 1e6, 0, -1)
    // 800 pages put 410-455 URLs on the mega-host for any seed; budgets of
    // 165, 181, 199 (the rate grows 10% a round) schedule them in exactly
    // three rounds, then one empty round ends the crawl
    case (true, false) => CrawlParams(800, 33, 2, 2)
    case (true, true) => CrawlParams(200, 8, 2, 2)
  }

  private def bloomCapacity(p: CrawlParams): Long = math.max(p.pages * 2, 1000000L)

  private def inputs(ctx: Ctx, seed: Long, p: CrawlParams): CrawlIn = {
    val spark = ctx.spark
    val dir = ctx.freshDir("pages")
    ctx.op("setup.pages") { PagesGen.pages(spark, p.pages, seed).write.parquet(dir) }
    val pages = ctx.op("setup.read") { spark.read.parquet(dir) }
    CrawlIn(pages, PagesGen.seedUrls(spark, p.pages, seed).toDF(), PagesGen.hostPolicy(spark).toDF(), p)
  }

  def setup(ctx: Ctx, seed: Long): CrawlIn = inputs(ctx, seed, params(ctx.tiny))

  /** The warm-up: one whole untimed pass over the seeded inputs, so the
    * timed pass runs code the JIT has compiled at the data volumes it sees.
    * After a warm-up on a small corpus the first timed pass still ran about
    * 25% slower than the ones after it, by an amount that varied with the
    * load on the box.
    */
  def warmup(ctx: Ctx, seed: Long): Unit = pass(ctx, setup(ctx, seed))

  def passWallS(o: CrawlOut): Double = o.pass.wallS

  def pass(ctx: Ctx, in: CrawlIn): CrawlOut = {
    val spark = ctx.spark
    val p = in.p
    val dir = ctx.freshDir("state")
    val warehouse = ctx.freshDir("warehouse")
    // catalog tables of an earlier pass point at that pass's warehouse
    spark.catalog.listTables().collect().foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
    val rounds = scala.collection.mutable.ArrayBuffer.empty[(CrawlRound.RoundStats, Span)]
    val checkpoints = scala.collection.mutable.ArrayBuffer.empty[Span]
    var resume: Option[Span] = None
    var publish: Option[Span] = None
    var crawl: Span = null
    val (_, passSpan) = ctx.spans.timed("pass") {
      var state = new RoundState(spark, dir)
      crawl = ctx.timed("crawl") {
        var round = state.nextRound
        var continue = true
        while (continue && round < p.maxRounds) {
          val resuming = round == p.resumeAt
          if (resuming) state = new RoundState(spark, dir)
          val (st, span) = ctx.timed("round") {
            if (round == 1) ctx.injectException("round")
            CrawlRound.run(spark, in.pages, in.seeds, in.policy, state, round, p.roundSeconds,
              bloomCapacity = bloomCapacity(p), nShards = ShardedSeen.DefaultShards)
          }
          rounds += st -> span
          if (resuming) resume = Some(span)
          if (st.frontier == 0) continue = false
          round += 1
          if (p.checkpointEvery > 0 && round % p.checkpointEvery == 0)
            checkpoints += ctx.timed("checkpoint") { checkpointTables.foreach(state.checkpointTable) }._2
        }
      }._2
      if (incremental)
        publish = Some(ctx.timed("publish") { Compaction.publish(spark, state, warehouse) }._2)
    }
    CrawlOut(dir, passSpan, crawl, rounds.toSeq, checkpoints.toSeq, resume, publish)
  }

  /** Recomputes every round's schedule from its `rank_input` lineage in plain
    * Scala (per host: priority desc, canon_url asc, rank <= budget) and
    * requires it to equal the `ordering` table; checks the seen set, the
    * empty final frontier and (incremental) the published job count.
    */
  def check(ctx: Ctx, in: CrawlIn, out: CrawlOut): String = ctx.check("crawl") {
    val spark = ctx.spark
    val st = new RoundState(spark, out.stateDir)
    Check(out.rounds.nonEmpty && out.rounds.last._1.frontier == 0,
      s"$name: frontier not empty after ${out.rounds.size} rounds")
    val rankInput = st.readCommitted("rank_input").get
      .select("round", "host", "canon_url", "priority", "budget").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getDouble(3), r.getInt(4)))
    val expected = rankInput.groupBy(r => (r._1, r._2)).toSeq.flatMap { case ((round, host), rows) =>
      rows.sortBy(r => (-r._4, r._3)).zipWithIndex
        .collect { case (r, i) if i + 1 <= r._5 => (round, host, i + 1, r._3) }
    }.toSet
    var actual = st.readCommitted("ordering").get
      .select("round", "host", "sched_rank", "canon_url").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3))).toSeq
    if (ctx.corruptResult && actual.nonEmpty) {
      val (r, h, k, u) = actual.head
      actual = (r, h, k + 1, u) +: actual.tail
    }
    Check(actual.size == actual.toSet.size, s"$name: duplicate rows in ordering")
    Check(actual.toSet == expected,
      s"$name: schedule differs from its recomputation from rank_input " +
        s"(${(actual.toSet -- expected).take(3)} vs ${(expected -- actual.toSet).take(3)})")

    val seen = st.readCommitted("seen").get.select("canon_url").collect().map(_.getString(0))
    Check(seen.length == seen.distinct.length, s"$name: a URL was scheduled twice")
    Check(seen.length.toLong == out.scheduled,
      s"$name: seen set has ${seen.length} URLs, rounds scheduled ${out.scheduled}")
    Check(out.scheduled > 0, s"$name: nothing scheduled")
    val jobs = st.readCommitted("out_jobs").get.select("platform", "source_id", "url").collect()
      .map(r => s"${r.getString(0)}|${r.getString(1)}|${r.getString(2)}")
    Check(jobs.nonEmpty, s"$name: no jobs extracted")
    if (incremental) {
      val keys = jobs.map(_.split('|').take(2).mkString("|")).distinct.length.toLong
      val published = spark.table("tb_jobs").count()
      Check(published == keys, s"$name: published $published jobs, expected $keys keys")
    }
    Stats.sha256(seen.sorted) + "-" + Stats.sha256(jobs.sorted)
  }

  def endToEnd(outs: Seq[CrawlOut]): Map[String, Double] = Map(
    "pass_s" -> Stats.median(outs.map(_.pass.wallS)),
    "throughput_per_s" -> Stats.median(outs.map(o => o.scheduled / o.crawl.wallS)))

  def details(outs: Seq[CrawlOut]): Map[String, Any] = {
    val roundWalls = outs.flatMap(_.rounds.map(_._2.wallS))
    val (pct, tail) = Stats.supportedTail(roundWalls)
    Map(
      "workload" -> name,
      "urls_per_s" -> Stats.median(outs.map(o => o.scheduled / o.crawl.wallS)),
      "scheduled" -> outs.head.scheduled,
      "rounds" -> outs.head.rounds.size,
      "round_walls_s" -> roundWalls,
      "round_p50_s" -> Stats.median(roundWalls),
      "round_tail_s" -> tail,
      "round_tail_pct" -> pct,
      "round_tail_samples" -> roundWalls.size) ++
      (if (incremental) Map(
        "resume_s" -> Stats.median(outs.map(_.resume.get.wallS)),
        "publish_s" -> Stats.median(outs.map(_.publish.get.wallS)),
        "checkpoint_s" -> Stats.median(outs.map(_.checkpoints.map(_.wallS).sum)))
      else Map.empty)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Files and bytes under `dir`, skipping checksum and hidden files. */
  private def listFiles(dir: File): Seq[File] =
    if (!dir.exists) Nil
    else if (dir.isFile) (if (dir.getName.startsWith(".")) Nil else Seq(dir))
    else dir.listFiles().toSeq.flatMap(listFiles)

  def layers(ctx: Ctx, in: CrawlIn, traced: Seq[CrawlOut], listener: LayerListener): Map[String, Double] = {
    val spark = ctx.spark
    val spans = ctx.spans
    val out = traced.last

    // ---- jobs.CrawlRound: one listener span per round ------------------
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    val roundSpans = traced.flatMap(_.rounds.map(_._2))
    val allJobs = listener.jobs
    val perRound = roundSpans.map { rs =>
      val g = spans.group(rs)
      val w = listener.work(Set(g))
      val overlapping = allJobs.filter(j => j.endMs >= rs.startMs && j.startMs <= rs.endMs)
        .map(j => (math.max(j.startMs, rs.startMs), math.min(j.endMs, rs.endMs)))
      val driverS = math.max(0.0, rs.wallS - Stats.unionS(overlapping))
      val mine = allJobs.filter(_.group == g)
      val bySite = mine.groupBy { j =>
        val k = Trace.siteKey(j.site)
        if (Metrics.roundSites.contains(k)) k else "other"
      }.map { case (k, js) => k -> (js.size.toDouble, Stats.unionS(js.map(j => (j.startMs, j.endMs)))) }
      (w, driverS, (w.busyS + driverS) / rs.wallS, bySite)
    }
    allJobs.filter(j => roundSpans.exists(rs => spans.group(rs) == j.group))
      .map(j => Trace.siteKey(j.site)).groupBy(identity).foreach { case (k, v) =>
        System.err.println(s"graftbench: round job site $k x${v.size}")
      }
    val n = perRound.size.toDouble
    def mean(f: ((Work, Double, Double, Map[String, (Double, Double)])) => Double) = perRound.map(f).sum / n
    val siteMetrics = (Metrics.roundSites :+ "other").flatMap { s =>
      Seq(s"round.$s.jobs" -> mean(_._4.get(s).map(_._1).getOrElse(0.0)),
        s"round.$s.busy_s" -> mean(_._4.get(s).map(_._2).getOrElse(0.0)))
    }
    val roundMetrics = Map(
      "round.jobs" -> mean(_._1.jobs.toDouble),
      "round.tasks" -> mean(_._1.tasks.toDouble),
      "round.driver_s" -> mean(_._2),
      "round.executor_cpu_s" -> mean(_._1.cpuS),
      "round.shuffle_bytes" -> mean(r => (r._1.shuffleReadBytes + r._1.shuffleWriteBytes).toDouble),
      "round.gc_s" -> mean(_._1.gcS),
      "round.accounted_min" -> perRound.map(_._3).min) ++ siteMetrics

    // ---- frontier.RoundState, listed from outside ----------------------
    val root = new File(out.stateDir)
    val files = listFiles(root)
    val bytes = files.map(_.length).sum.toDouble
    val ckptBytes = files.filter(_.getPath.contains("/_base_")).map(_.length).sum.toDouble
    val st = new RoundState(spark, out.stateDir)
    val tables = root.listFiles().filter(f => f.isDirectory && !f.getName.startsWith("_")).map(_.getName).sorted
    val readSpan = ctx.timed("probe.state_read") { tables.foreach(t => st.readCommitted(t).foreach(noop)) }._2
    val stateMetrics = Map(
      "state.files_written" -> files.size / out.rounds.size.toDouble,
      "state.bytes_written" -> bytes / out.rounds.size,
      "state.bytes_per_url" -> bytes / out.scheduled,
      "state.checkpoint_s" -> out.checkpoints.map(_.wallS).sum,
      "state.checkpoint_bytes" -> ckptBytes,
      "state.read_s" -> readSpan.wallS)

    // ---- seen filter, budget rank and extract, re-run per round ---------
    val ordering = st.readCommitted("ordering").get
    val rankInput = st.readCommitted("rank_input").get
    val seedCols = Seq("url", "platform", "category_id", "priority")
    var buildS, probeS, rankS, extractS = 0.0
    var maybe, trueHits, candidates, fetchedRows, maxTaskRows = 0L
    var extractCpu = 0.0
    var fetchedOk, fetchedAll = 0L
    def shardsBefore(r: Int): Option[DataFrame] =
      (r - 1 to 0 by -1).map(k => new File(root, s"${ShardedSeen.Table}/round=$k")).find(_.isDirectory)
        .map(d => spark.read.parquet(d.getAbsolutePath))
    import spark.implicits._
    for ((stats, _) <- out.rounds if stats.scheduled > 0) {
      val r = stats.round
      val manifest = st.readManifest(r).get
      val nShards = manifest("seen_shards").toInt
      val capPerShard = math.max(bloomCapacity(in.p) / nShards, 4096L)
      val selected = ordering.filter(col("round") === r)
      val prev = shardsBefore(r).map(_.as[ShardedSeen.ShardRow])

      buildS += ctx.timed("probe.seen_build") {
        noop(ShardedSeen.updated(prev, selected.select("canon_url"), "canon_url", nShards, capPerShard).toDF())
      }._2.wallS

      prev.foreach { filters =>
        val seedsIn = if (r == 0) in.seeds.selectExpr(seedCols: _*)
          else in.seeds.selectExpr(seedCols: _*)
            .unionByName(st.readAsOf("discovered", r - 1).get.selectExpr(seedCols: _*))
        val open = st.readAsOf("crawled", r - 1) match {
          case Some(c) => seedsIn.join(c.select("platform", "category_id").distinct(),
            Seq("platform", "category_id"), "left_anti")
          case None => seedsIn
        }
        val cands = ctx.op("probe.seen_candidates") {
          open.select(Canon.canonUrl(col("url")).as("canon_url")).distinct().localCheckpoint()
        }
        probeS += ctx.timed("probe.seen_probe") {
          noop(ShardedSeen.probe(cands, filters, "canon_url", nShards))
        }._2.wallS
        ctx.op("probe.seen_hits") {
          candidates += cands.count()
          maybe += ShardedSeen.probe(cands, filters, "canon_url", nShards).filter(col("_maybe_seen")).count()
          trueHits += cands.join(st.readAsOf("seen", r - 1).get, Seq("canon_url"), "left_semi").count()
        }
      }

      val rank = ctx.timed("probe.rank_select") {
        noop(Politeness.selectBudget(rankInput.filter(col("round") === r),
          sizeHint = Some(manifest("frontier").toLong)))
      }._2
      rankS += rank.wallS
      maxTaskRows = math.max(maxTaskRows, listenerWork(ctx, listener, rank).maxTaskShuffleRecords)

      val fetched = in.pages.select(col("url").as("canon_url"), col("html"), col("warc_ts"))
        .join(broadcast(selected.select("canon_url", "platform", "host", "category_id")), Seq("canon_url"))
      val extract = ctx.timed("probe.extract") { noop(ExtractJob.extractPages(fetched).toDF()) }._2
      extractS += extract.wallS
      extractCpu += listenerWork(ctx, listener, extract).cpuS
      fetchedRows += ctx.op("probe.fetched_count") { fetched.count() }
      fetchedOk += manifest("extracted").toLong
      fetchedAll += manifest("fetched").toLong
    }
    val seenMetrics = Map(
      "seen.build_s" -> buildS,
      "seen.probe_s" -> probeS,
      "seen.maybe_hits" -> maybe.toDouble,
      "seen.true_hits" -> trueHits.toDouble,
      "seen.fp_rate" -> (if (candidates > trueHits) (maybe - trueHits).toDouble / (candidates - trueHits) else 0.0),
      "rank.select_s" -> rankS,
      "rank.max_task_rows" -> maxTaskRows.toDouble,
      "extract.pages_per_s" -> fetchedRows / extractS,
      "extract.cpu_s" -> extractCpu,
      "extract.ok_ratio" -> fetchedOk.toDouble / fetchedAll)

    // ---- jobs.Compaction -----------------------------------------------
    val compaction = out.publish.map { p =>
      val readFiles = outTables.map(t => listFiles(new File(root, t)).count(_.getName.endsWith(".parquet"))).sum
      Map("compaction.read_files" -> readFiles.toDouble,
        "compaction.rows" -> listenerWork(ctx, listener, p).outputRecords.toDouble)
    }.getOrElse(Map.empty)

    roundMetrics ++ stateMetrics ++ seenMetrics ++ compaction
  }

  private def listenerWork(ctx: Ctx, listener: LayerListener, s: Span): Work = {
    org.apache.spark.GraftBenchBus.drain(ctx.spark.sparkContext)
    listener.work((s +: ctx.spans.descendants(s)).map(ctx.spans.group).toSet)
  }
}
