package perfbench

/** Per-layer metrics of a traced run (the build, the warm-up pass and
  * one timed pass).
  *
  * Scopes: `Mat.*` cover the whole run after the scan (barriers build
  * wherever a query first needs them); `Tables.scan_s` is the scan of
  * the inputs through `Tables.read`; `jvm.gc_ms` is the whole run;
  * everything else is the timed pass. A job belongs to the innermost
  * span whose time window holds its start, whichever thread launched
  * it. */
object Layers {
  def compute(spans: Spans, jl: JobListener, batches: Seq[BatchListener#Batch],
              cores: Int, matSelfS: Double, matBuilds: Int, gcMs: Long): Map[String, Double] = {
    val byId = spans.all.map(s => s.id -> s).toMap
    def ancestors(s: Span): Iterator[Span] =
      Iterator.iterate(Option(s))(_.flatMap(x => byId.get(x.parent))).takeWhile(_.isDefined).map(_.get)
    val pass = spans.all.filter(_.layer == "pass").head
    def inPass(s: Span) = ancestors(s).exists(_.id == pass.id)
    val passSpans = spans.all.filter(inPass)
    def sum(layer: String, fam: Option[String] = None): Double =
      passSpans.filter(s => s.layer == layer && fam.forall(_ == s.family)).map(_.secs).sum

    val (jobs, stages) = jl.synchronized((jl.jobs.toSeq, jl.stages.toMap))
    val jobSpan = jobs.map(j => j -> spans.at(j.startMs)).toMap
    // a stage belongs to the first job that lists it
    val stageJob = jobs.reverse.flatMap(j => j.stageIds.map(_ -> j)).toMap
    def stagesOf(js: Seq[JobListener#Job]): Seq[JobListener#Stage] = {
      val ids = js.map(_.id).toSet
      stages.values.filter(s => stageJob.get(s.id).exists(j => ids(j.id))).toSeq
    }
    val passJobs = jobs.filter(j => jobSpan(j).exists(inPass))
    val passStages = stagesOf(passJobs)
    val matJobs = jobs.filter(_.mat)
    val constructJobs = passJobs.filter(j => !j.mat && jobSpan(j).exists(_.layer == "construct"))

    // wall seconds with at least one job running (union of intervals)
    val busyWall = {
      val iv = passJobs.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
      var total = 0L; var cur: Option[(Long, Long)] = None
      iv.foreach { case (a, b) => cur match {
        case Some((s, e)) if a <= e => cur = Some((s, math.max(e, b)))
        case Some((s, e)) => total += e - s; cur = Some((a, b))
        case None => cur = Some((a, b))
      } }
      cur.foreach { case (s, e) => total += e - s }
      total / 1000.0
    }
    val busyS = passStages.map(_.busyMs).sum / 1000.0
    val skews = passStages.filter(_.taskMs.size >= 2).map { s =>
      val ts = s.taskMs.sorted
      val med = ts(ts.size / 2).toDouble
      ts.last / math.max(med, 1.0)
    }.sorted
    def mb(b: Long) = b / 1048576.0
    val done = passStages.filter(_.completed)
    val fams = Workloads.familyNames.flatMap { f =>
      Seq(s"family.$f.construct_s" -> sum("construct", Some(f)),
        s"family.$f.plan_s" -> sum("plan", Some(f)),
        s"family.$f.exec_s" -> sum("execute", Some(f)))
    }
    val nonEmpty = batches.filter(_.rows > 0)
    // interpolated quantile of the non-empty batches' triggerExecution
    def batchQ(q: Double): Double = {
      val xs = nonEmpty.map(_.triggerMs.toDouble).sorted
      if (xs.isEmpty) 0.0 else {
        val k = (xs.size - 1) * q
        val lo = k.toInt
        xs(lo) + (xs(math.min(lo + 1, xs.size - 1)) - xs(lo)) * (k - lo)
      }
    }
    (Seq(
      "Tables.scan_s" -> spans.all.filter(s => s.layer == "Tables" && s.name == "scan").map(_.secs).sum,
      "Tables.input_mb" -> mb(passStages.map(_.inBytes).sum),
      "Tables.input_rows" -> passStages.map(_.inRecords).sum.toDouble,
      "Mat.builds" -> matBuilds.toDouble,
      "Mat.build_self_s" -> matSelfS,
      "Mat.jobs" -> matJobs.size.toDouble,
      "Mat.write_mb" -> mb(stagesOf(matJobs).map(_.outBytes).sum),
      "SparkEntry.construct_s" -> sum("construct"),
      "SparkEntry.construct_jobs" -> constructJobs.size.toDouble,
      "plans.plan_s" -> sum("plan"),
      "exec.exec_s" -> busyWall,
      "exec.jobs" -> passJobs.size.toDouble,
      "exec.stages" -> done.size.toDouble,
      "exec.tasks" -> passStages.map(_.taskMs.size).sum.toDouble,
      "exec.exchanges" -> done.count(_.shuffleMap).toDouble,
      "exec.shuffle_write_mb" -> mb(passStages.map(_.shuffleWrite).sum),
      "exec.shuffle_read_mb" -> mb(passStages.map(_.shuffleRead).sum),
      "exec.spill_mb" -> mb(passStages.map(_.spill).sum),
      "exec.task_busy_s" -> busyS,
      "exec.idle_frac" -> (if (busyWall > 0) 1.0 - busyS / (busyWall * cores) else 0.0),
      "exec.task_skew" -> (if (skews.isEmpty) 0.0 else skews(skews.size / 2)),
      "exec.gc_ms" -> passStages.map(_.gcMs).sum.toDouble,
      "Streams.batches" -> nonEmpty.size.toDouble,
      "Streams.input_rows" -> batches.map(_.rows).sum.toDouble,
      "Streams.trigger_ms" -> batches.map(_.triggerMs).sum.toDouble,
      "Streams.add_batch_ms" -> batches.map(_.addBatchMs).sum.toDouble,
      "Streams.wal_ms" -> batches.map(_.walMs).sum.toDouble,
      "Streams.state_commit_ms" -> batches.map(_.stateCommitMs).sum.toDouble,
      "Streams.batch_p50_ms" -> batchQ(0.5),
      "Streams.batch_p90_ms" -> batchQ(0.9),
      "jvm.gc_ms" -> gcMs.toDouble,
      "trace.pass_s" -> pass.secs) ++ fams).toMap
  }
}
