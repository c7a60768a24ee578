package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, xxhash64}

import graft.{Mat, Tables}
import graft.streaming.Streams

/** One benchmark run: one fresh JVM and session, one workload, a
  * closed loop with one client (one query at a time, no extra
  * threads). Prints one `PERFBENCH {json}` line of raw measurements on
  * stdout; perfbench/run.py turns it into the benchmark's metrics.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <dataDir>
  *             <workDir> <launchEpochNs> <cores>
  */
object Main {
  type Query = (SparkSession, String) => DataFrame

  val MinPasses = 2

  /** Builds an untraced run makes: the first warms the JVM up, build_s
    * is the median of the others. */
  val Builds = 3

  /** One query of one pass; pass 0 is the warm-up pass. */
  final case class Sample(name: String, pass: Int, secs: Double, hash: String,
                          error: String, streamRows: Long)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, workDir, launchS, coresS) = args
    val trace = traceS == "1"
    val cores = coresS.toInt
    val wl = Workloads.byName.getOrElse(workload,
      sys.error(s"unknown workload $workload (known: ${Workloads.byName.keys.mkString(", ")})"))

    val gc0 = gcMs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.excludedRules", graft.operators.BoundedWindow.ExcludedRule)
      .config("spark.local.dir", s"$workDir/local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val batches = new BatchListener
    spark.streams.addListener(batches)
    val jobs = if (trace) Some(new JobListener) else None
    jobs.foreach(spark.sparkContext.addSparkListener)
    spark.range(1).count()
    val setupS = (epochNs() - launchS.toLong) / 1e9

    val spans = new Spans(s"$workload-$seedS-${spark.sparkContext.applicationId}")
    def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

    // row count and content hash of each input table, read through
    // Tables.read: the inputs' fingerprint, and the scan layer's timing
    val fingerprints = LinkedHashMap[String, (Long, String)]()
    spans("Tables", "scan") {
      wl.tables.foreach { t =>
        val df = Tables.read(spark, dataDir, t)
        val r = df.select(xxhash64(df.columns.map(col).toSeq: _*).as("h"))
          .agg(count(lit(1)), bit_xor(col("h"))).collect()(0)
        fingerprints(t) = (r.getLong(0), if (r.isNullAt(1)) "null" else r.getLong(1).toString)
      }
    }
    drain()

    def matSnapshot(): Map[String, Double] =
      Mat.buildSeconds.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
    val m0 = matSnapshot()

    // build: construct every query once with no barrier built, which
    // builds exactly the barriers the workload reads (and runs each
    // one-shot stream once). The first build runs in a cold JVM, whose
    // JIT compilers compete with the tasks for the cores, and its time
    // swings with how busy the host is; so an untraced run builds
    // `Builds` times and build_s is the median of the warm builds after
    // the first. Mat keys its barriers by input path, so each earlier
    // build reads the inputs through its own alias (a symlink to
    // dataDir) and finds no barrier built; the last build reads dataDir
    // itself, so the passes query its barriers. Each build gets its own
    // scratch tag, so its streams run on fresh checkpoints.
    val buildErrors = LinkedHashMap[String, String]()
    val nBuilds = if (trace) 1 else Builds
    val buildDirs = (1 until nBuilds).map { k =>
      val alias = Paths.get(workDir, "inputs", s"b$k")
      Files.createDirectories(alias.getParent)
      Files.createSymbolicLink(alias, Paths.get(dataDir).toAbsolutePath).toString
    } :+ dataDir
    buildDirs.zipWithIndex.foreach { case (dir, k) =>
      Streams.scratchTag = s"build$k"
      spans("build", s"b$k") {
        wl.queries.foreach { case (name, fn) =>
          try spans("construct", name, Workloads.family(name))(fn(spark, dir)): Unit
          catch { case scala.util.control.NonFatal(e) => buildErrors(s"$name (build $k)") = msg(e) }
        }
      }
      drain(); batches.take()
    }
    val buildS = spans.all.filter(_.layer == "build").map(_.secs).toSeq
    var heapMb = oldGenAfterGcMb()
    val m1 = matSnapshot()

    // passes: a warm-up pass (pass 0: JIT and codegen caches fill; its
    // results are checked but not timed), then at least MinPasses whole
    // timed passes, more while `seconds` have not passed (the benchmark
    // sets `seconds` below the floor's time). A fixed floor keeps runs
    // comparable: passes still speed up after the warm-up, so the median
    // of two passes and of three differ. An untraced run of a
    // workload whose builds run the passes' own work (`warmedByBuilds`)
    // skips the warm-up pass: its earlier build has warmed that work up.
    // A traced run builds once, then makes the warm-up pass and one
    // timed pass. The seed permutes the query order of every pass.
    val rnd = new scala.util.Random(seedS.toLong)
    val samples = ArrayBuffer[Sample]()
    val batchMs = ArrayBuffer[Long]()
    val passBatches = ArrayBuffer[BatchListener#Batch]()
    var t0 = 0L
    var pass = if (!trace && wl.warmedByBuilds) 0 else -1
    while (pass < (if (trace) 1 else MinPasses) ||
           (!trace && (System.nanoTime() - t0) / 1e9 < secondsS.toDouble)) {
      pass += 1
      if (pass == 1) t0 = System.nanoTime()
      Streams.scratchTag = s"p$pass"
      spans(if (pass == 0) "warmup" else "pass", s"p$pass") {
        rnd.shuffle(wl.queries).foreach { case (name, fn) =>
          val fam = Workloads.family(name)
          var hash, err = ""
          val q0 = System.nanoTime()
          spans("query", name, fam) {
            try {
              val df = spans("construct", name, fam)(fn(spark, dataDir))
              val agged = df.select(xxhash64(df.columns.map(col).toSeq: _*).as("h"))
                .agg(bit_xor(col("h")))
              spans("plan", name, fam)(agged.queryExecution.executedPlan)
              val r = spans("execute", name, fam)(agged.collect())
              hash = if (r(0).isNullAt(0)) "null" else r(0).getLong(0).toString
            } catch { case scala.util.control.NonFatal(e) => err = msg(e) }
          }
          val secs = (System.nanoTime() - q0) / 1e9
          drain()
          val bs = batches.take()
          if (pass == 1) passBatches ++= bs
          if (pass >= 1) batchMs ++= bs.filter(_.rows > 0).map(_.triggerMs)
          samples += Sample(name, pass, secs, hash, err,
            if (wl.streaming) bs.map(_.rows).sum else -1L)
        }
      }
      heapMb = math.max(heapMb, oldGenAfterGcMb())
    }
    val m2 = matSnapshot()
    val gcTotal = gcMs() - gc0
    drain()

    val passSpans = spans.all.filter(_.layer == "pass").toSeq
    val layers: Map[String, Double] = jobs.fold(Map.empty[String, Double]) { jl =>
      Layers.compute(spans, jl, passBatches.toSeq, cores,
        matSelfS = m2.values.sum - m0.values.sum,
        matBuilds = countBuilds(m0, m1) + countBuilds(m1, m2),
        gcMs = gcTotal)
    }
    if (trace) writeTrace(spans, jobs.get, s"$workDir/trace.json")

    val byId = spans.all.map(s => s.id -> s).toMap
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "'")
      .replace("\n", " ").replace("\r", " ").replace("\t", " ") + "\""
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj(kv: Iterable[(String, String)]) = kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    val sj = samples.map { s =>
      s"""{"name":${q(s.name)},"pass":${s.pass},"secs":${num(s.secs)},"hash":${q(s.hash)},""" +
      s""""error":${q(s.error)},"stream_rows":${s.streamRows}}"""
    }.mkString("[", ",", "]")
    val bq = spans.all.filter(s => s.layer == "construct" && byId(s.parent).layer == "build")
      .groupBy(_.name).map { case (n, ss) => n -> ss.map(s => num(s.secs)).mkString("[", ",", "]") }
    val fj = fingerprints.map { case (t, (n, h)) => t -> s"""{"rows":$n,"hash":${q(h)}}""" }
    println(s"""PERFBENCH {"workload":${q(workload)},"seed":$seedS,"cores":$cores,"trace":$trace,""" +
      s""""setup_s":${num(setupS)},"build_s":[${buildS.map(num).mkString(",")}],""" +
      s""""build_errors":${obj(buildErrors.map { case (k, v) => k -> q(v) })},""" +
      s""""build_queries":${obj(bq)},"pass_s":[${passSpans.map(s => num(s.secs)).mkString(",")}],""" +
      s""""batch_ms":[${batchMs.mkString(",")}],"heap_peak_mb":${num(heapMb)},""" +
      s""""fingerprints":${obj(fj)},""" +
      s""""layers":${obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })},""" +
      s""""samples":$sj}""")
    System.out.flush()
    org.apache.spark.sql.graftbridge.Bridge.stopStateStoreMaintenance()
    spark.stop()
  }

  private def countBuilds(a: Map[String, Double], b: Map[String, Double]): Int =
    b.count { case (k, v) => v > a.getOrElse(k, 0.0) }

  private def msg(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  private def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Old-generation occupancy after a full collection, in MB. Taken
    * after the build and after each pass, outside the timed spans: the
    * live set each phase leaves behind, which does not depend on when
    * collections happen to run. */
  private def oldGenAfterGcMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1048576.0
  }

  /** The span tree and every job's attribution, written once at the end. */
  private def writeTrace(spans: Spans, jl: JobListener, path: String): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "'") + "\""
    val ss = spans.all.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"run_id":${q(spans.runId)},"layer":${q(s.layer)},""" +
      s""""name":${q(s.name)},"family":${q(s.family)},"start_ms":${s.startMs},""" +
      s""""secs":${s.secs},"self_secs":${spans.selfSecs(s)}}"""
    }
    val js = jl.synchronized(jl.jobs.toSeq).map { j =>
      s"""{"id":${j.id},"span":${spans.at(j.startMs).fold(0)(_.id)},"start_ms":${j.startMs},""" +
      s""""end_ms":${j.endMs},"mat":${j.mat},"site":${q(j.site)},"stages":[${j.stageIds.mkString(",")}]}"""
    }
    Files.writeString(Paths.get(path),
      s"""{"run_id":${q(spans.runId)},"spans":[${ss.mkString(",")}],"jobs":[${js.mkString(",")}]}""")
  }
}
