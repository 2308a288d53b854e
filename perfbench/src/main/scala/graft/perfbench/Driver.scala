package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark iteration in a fresh JVM, as a `spark-submit` user runs
  * it: start the session the CLIs use, run one workload from its configs
  * to committed output, then report timings as JSON.
  *
  * Usage: `Driver --workload <name> --in <inputs dir> --work <scratch dir>
  * --trace <0|1> --out <result.json>`. The generated inputs are all the
  * program sees; `run.py` checks the committed outputs afterwards.
  *
  * With `--trace 1` a listener and spans record the per-layer split and
  * the layer probes run after the timed section; with `--trace 0` nothing
  * is registered, so the end-to-end numbers carry no tracing cost. */
object Driver {
  final case class Step(name: String, start: Long, end: Long, error: Option[String])

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val in = new File(a("in")).getAbsolutePath
    val work = new File(a("work")).getAbsolutePath
    val traced = a("trace") == "1"
    // the local-mode session settings the repo's own local sessions use
    val conf = graft.conf.GraftConfig.parse(
      """spark {
        |  app = perfbench
        |  spark-prop {
        |    spark.master = "local[4]"
        |    spark.sql.shuffle.partitions = 4
        |    spark.sql.join.preferSortMergeJoin = false
        |  }
        |}""".stripMargin)
    val spark = graft.cli.Cli.session(conf, "perfbench")
    val readyMs = System.currentTimeMillis()
    val workDir = new File(work)
    val trace = new Trace(s"${workDir.getParentFile.getName}/${workDir.getName}")
    if (traced) {
      spark.sparkContext.addSparkListener(trace.listener)
      spark.streams.addListener(trace.queryListener)
    }
    val w = new Workloads(spark, in, work, trace)
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = os.getProcessCpuTime
    val t0 = System.currentTimeMillis()
    val steps = trace.span(workload)(w.run(workload))
    val t1 = System.currentTimeMillis()
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    spark.catalog.clearCache()
    val heapMb = retainedHeapMb()
    val probes =
      if (traced && steps.forall(_.error.isEmpty)) trace.span("probes")(w.probes(workload))
      else Seq.empty
    spark.stop()
    val json = Json.result(workload, readyMs, t0, t1, cpuS, heapMb, steps,
      probes, if (traced) Some(trace) else None)
    Files.writeString(Paths.get(a("out")), json)
  }

  /** Driver heap still in use after full collections. */
  private def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** The workloads and their layer probes. Every step goes through a
  * CLI `main` or a public library call; each is timed and wrapped in a
  * span named `<module>:<what>`. A step that throws ends the iteration. */
final class Workloads(spark: SparkSession, in: String, work: String, trace: Trace) {
  import Driver.Step

  private val steps = mutable.ArrayBuffer.empty[Step]

  private def step(name: String)(body: => Unit): Unit =
    if (steps.forall(_.error.isEmpty)) {
      val s = System.currentTimeMillis()
      val err = try { trace.span(name)(body); None }
      catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      steps += Step(name, s, System.currentTimeMillis(), err)
    }

  private def confFile(name: String, body: String): String = {
    val f = new File(work, name)
    Files.writeString(f.toPath, body)
    f.getPath
  }

  private def local(dir: String, extra: String = ""): String =
    s"""{ storage-type = local, dataset-dir = "$dir", dataset-store-format = parquet$extra }"""

  private def sink(dir: String): String = local(dir, ", write-mode = overwrite")

  def run(workload: String): Seq[Step] = {
    workload match {
      case "etl_tabular" => etl()
      case "stream_dedup" => stream()
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    steps.toList
  }

  // ---------------------------------------------------------------- etl

  private val MoverSql =
    "SELECT uid, l_orderkey, l_returnflag, l_shipmode, l_quantity, " +
      "l_extendedprice, l_discount, l_tax, " +
      "datediff(l_receiptdate, l_shipdate) AS ship_days, " +
      "l_extendedprice * (1 - l_discount) * (1 + l_tax) AS net_price, label " +
      "FROM dataset_temp"

  private val FeatureCols = Seq("l_quantity", "l_extendedprice", "l_discount",
    "l_tax", "ship_days", "net_price")

  // a fixed number of LBFGS rounds (tol 0 never stops early), so the
  // training work does not vary with the seed's data
  private val TrainParams = Seq("maxIter" -> "20", "tol" -> "0.0")

  private def etl(): Unit = {
    val train = s"$work/train"
    val features = s", transform-sql = \"$MoverSql\""
    step("cli:mover") {
      // the training extract: derived features, digest-sampled by uid
      graft.cli.Mover.main(Array("--conf", confFile("mover.conf",
        s"""source ${local(s"$in/lineitem",
              features + ", sample = 0.5, sample-method = digest, sample-id-column = uid")}
           |target ${sink(train)}
           |""".stripMargin)))
    }
    step("cli:trainer") {
      graft.cli.Trainer.main(Array("--conf", confFile("trainer.conf",
        s"""model-definition {
           |  dataset ${local(train)}
           |  target-column = label
           |  estimator = logistic-regression
           |  feature-columns = [${FeatureCols.mkString(", ")}]
           |  params { ${TrainParams.map { case (k, v) => s"$k = $v" }.mkString(", ")} }
           |}
           |model-path = "$work/model"
           |validation { fraction = 0.2, id-column = uid, report-dir = "$work/validation" }
           |""".stripMargin)))
    }
    step("cli:scorer") {
      graft.cli.Scorer.main(Array("--conf", confFile("scorer.conf",
        s"""source ${local(s"$in/lineitem", features)}
           |target ${sink(s"$work/scores")}
           |model-path = "$work/model"
           |cols-to-save = [uid, label]
           |current-dt = bench
           |""".stripMargin)))
    }
    step("cli:differ") {
      graft.cli.Differ.main(Array("--conf", confFile("differ.conf",
        s"""source ${local(s"$in/current")}
           |reference ${local(s"$in/lineitem")}
           |diff {
           |  discrete-columns = [l_shipmode, l_returnflag]
           |  continuous-columns = [l_discount, l_quantity]
           |  max-bins = 50
           |  report-dir = "$work/drift"
           |}
           |""".stripMargin)))
    }
  }

  // ------------------------------------------------------------- stream

  private def stream(): Unit = {
    val landing = new File(work, "landing")
    landing.mkdirs()
    val conf = confFile("streamer.conf",
      s"""streaming {
         |  events-dir = "$work/landing"
         |  target-dir = "$work/survivors"
         |  checkpoint-location = "$work/ckpt"
         |  operation = near-dedup-cluster
         |  cluster-state-dir = "$work/cluster_state"
         |  embedding-column = embedding
         |}
         |""".stripMargin)
    val batches = new File(in, "batches").listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    batches.foreach { b =>
      step(s"streaming:${b.getName.stripSuffix(".parquet")}") {
        Files.copy(b.toPath, new File(landing, b.getName).toPath,
          StandardCopyOption.REPLACE_EXISTING)
        graft.cli.Streamer.main(Array("--conf", conf))
      }
    }
  }

  // ------------------------------------------------------------- probes

  /** Throughput of one kernel as a noop-sink projection: rows/s. */
  private def rowsPerSec(name: String, df: DataFrame): (String, Double) = {
    val n = df.count().toDouble
    val s = System.nanoTime()
    trace.span(s"probe:$name")(df.write.format("noop").mode("overwrite").save())
    name -> n / ((System.nanoTime() - s) / 1e9)
  }

  /** The value of `body` and its wall seconds. */
  private def timed[T](name: String)(body: => T): (T, Double) = {
    val s = System.nanoTime()
    val r = trace.span(s"probe:$name")(body)
    (r, (System.nanoTime() - s) / 1e9)
  }

  /** Candidate pairs of the banded self-join the near-dup engine runs,
    * counted with its own banding and hot-bucket guard. */
  private def bandedCandidates(sigs: DataFrame, bands: Int): Long = {
    val banded = graft.llm.Dedup.dropHotBuckets(
      graft.llm.Dedup.bandSignatures(sigs, bands), 10000)
    val l = banded.select(col("band"), col("bits"), col("id").as("id1"))
    val r = banded.select(col("band"), col("bits"), col("id").as("id2"))
    l.join(r, Seq("band", "bits")).filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct().count()
  }

  def probes(workload: String): Seq[(String, Double)] = workload match {
    case "stream_dedup" =>
      import graft.functions.GraftFunctions
      val docs = spark.read.parquet(s"$in/batches").cache()
      docs.count()
      val vecSigs = graft.llm.Similarity.srpSignatures(docs, "doc_id", "embedding")
      val sigs = graft.llm.Dedup.simHashSignatures(docs, "doc_id", "text", 3).cache()
      val candidates = bandedCandidates(sigs, 4).toDouble
      val within = graft.llm.Dedup.sigNearDups(sigs, 3, 4).count().toDouble
      val fanned = graft.operators.Ops.fanOutForCompute(
        spark.read.parquet(s"$in/batches")).rdd.getNumPartitions.toDouble
      Seq(
        rowsPerSec("functions.srp_rows_s",
          docs.select(GraftFunctions.srp(col("embedding")))),
        rowsPerSec("functions.simhash_rows_s",
          docs.select(GraftFunctions.simhash64(col("text"), 3))),
        rowsPerSec("functions.textstats_rows_s",
          docs.select(graft.llm.TextAnalysis.stats(col("text")))),
        rowsPerSec("functions.chunks_rows_s",
          docs.select(GraftFunctions.chunks(col("text"), 64, 16))),
        "llm.similarity.candidate_pairs" -> bandedCandidates(vecSigs, 4).toDouble,
        "llm.dedup.candidate_pairs" -> candidates,
        "llm.dedup.pair_yield" -> (if (candidates > 0) within / candidates else 0.0),
        "operators.fanout_tasks" -> fanned)
    case "etl_tabular" =>
      val src = graft.conf.GraftConfig.parse(s"source ${local(s"$in/lineitem")}").at("source")
      val probeOut = s"$work/probe_write"
      val df = graft.sources.DataIO.read(spark, src)
      val (_, readS) = timed("sources.read_s")(
        df.write.format("noop").mode("overwrite").save())
      val cached = df.cache()
      cached.count()
      val (_, writeS) = timed("sources.write_s")(graft.sources.DataIO.write(cached,
        graft.conf.GraftConfig.parse(s"target ${sink(probeOut)}").at("target")))
      val parts = Option(new File(probeOut).listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.getName.startsWith("part-"))
      val trainDf = spark.read.parquet(s"$work/train")
      val (model, fitS) = timed("ml.train_s")(
        graft.ml.Trainer.train(trainDf, "label", "logistic-regression", FeatureCols,
          TrainParams))
      Seq(
        "sources.read_s" -> readS,
        "sources.write_s" -> writeS,
        "sources.write_mb" -> parts.map(_.length).sum / 1048576.0,
        "sources.files_written" -> parts.length.toDouble,
        "ml.train_s" -> fitS,
        rowsPerSec("ml.score_rows_s", graft.ml.Trainer.scoreModel(model, trainDf, Seq("uid"))))
    case _ => Seq.empty
  }
}
