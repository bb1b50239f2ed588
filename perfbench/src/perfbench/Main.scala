package perfbench

import graft.GraftSession
import graft.api.{DatasetIO, LoadDataset}
import graft.operators.{DedupOps, IvfKnnOps, ReshapeOps, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Runs one workload's pipeline through graft's public functions:
  * warm-up passes first (reported as set-up), then timed passes for a
  * fixed wall-clock budget. Writes a result JSON and the outputs the
  * independent checker needs; prints nothing the caller parses.
  *
  * Usage: Main --workload W --in DIR --out DIR --seconds S --trace 0|1
  *             --cores N --warmup N --start-ms EPOCH_MS --result FILE
  */
object Main {
  val MinTimedPasses = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val out = opt("out")
    val spark = session(cores, out, traced)

    val tracer = new Tracer(spark, traced)
    val meter = new TaskMeter
    if (traced) spark.sparkContext.addSparkListener(meter)
    val pipeline = Pipeline(workload, spark, tracer, opt("in"), out)

    var pass = 0
    val timed = mutable.ArrayBuffer.empty[PassStats]
    def runPass(): PassStats = {
      pass += 1
      tracer.pass = pass
      val gc0 = Heap.gcSeconds
      val t0 = System.nanoTime()
      tracer.span("pass")(pipeline.pass())
      val wall = (System.nanoTime() - t0) / 1e9
      val gc = Heap.gcSeconds - gc0
      // untimed: the pass's caches are still held; the next pass starts on a collected heap
      val live = Heap.liveBytes()
      pipeline.cleanup()
      PassStats(pass, wall, gc, dirBytes(new File(pipeline.savedDir)), live)
    }
    val warmup = (1 to opt("warmup").toInt).map(_ => runPass())
    val setupS = (System.currentTimeMillis() - opt("start-ms").toLong) / 1e3

    val budgetNs = (opt("seconds").toDouble * 1e9).toLong
    val start = System.nanoTime()
    while (timed.size < MinTimedPasses || System.nanoTime() - start < budgetNs) timed += runPass()
    pipeline.writeCheckOutputs()

    val layers = if (traced) Layers.perPass(spark, tracer, meter, pipeline, timed.toSeq, cores) else Nil
    val e2e = Seq(
      "setup_s" -> setupS,
      "pass_s" -> median(timed.map(_.wall)),
      "read_s" -> medianPhase(tracer, timed, Seq("phase.load", "phase.read")),
      "write_s" -> medianPhase(tracer, timed, Seq("phase.build", "phase.save")),
      "stored_bytes" -> median(timed.map(_.storedBytes.toDouble)),
      "live_heap_mb" -> timed.map(_.liveBytes).max / 1048576.0
    )
    val callsPerPass = timed.map(p => tracer.passSpans(p.pass).count(s => Pipeline.isCall(s.name)))
    val json = new StringBuilder("{\n")
    json ++= s"""  "workload": "$workload",\n  "passes": ${timed.size},\n"""
    json ++= s"""  "attempted": ${callsPerPass.sum},\n  "failed": 0,\n"""
    json ++= s"""  "warmup_walls": ${warmup.map(_.wall).mkString("[", ", ", "]")},\n"""
    json ++= s"""  "pass_walls": ${timed.map(_.wall).mkString("[", ", ", "]")},\n"""
    json ++= s"""  "end_to_end": ${Json.obj(e2e)},\n"""
    json ++= s"""  "per_layer": ${Json.obj(layers)}\n}\n"""
    Files.write(Paths.get(opt("result")), json.toString.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  def session(cores: Int, out: String, traced: Boolean): SparkSession = {
    // the traced run reads every pass's plans back from the status store;
    // the untraced one keeps it small, so it stops growing during warm-up
    val retained = if (traced) Map("spark.sql.ui.retainedExecutions" -> "1000000")
      else Seq("spark.sql.ui.retainedExecutions", "spark.ui.retainedJobs", "spark.ui.retainedStages")
        .map(_ -> "100").toMap
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .appName("graft-perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config(retained)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  final case class PassStats(pass: Int, wall: Double, gcSeconds: Double, storedBytes: Long, liveBytes: Long)

  def median(xs: scala.collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def medianPhase(t: Tracer, timed: scala.collection.Seq[PassStats], names: Seq[String]): Double =
    median(timed.map(p => t.passSpans(p.pass).filter(s => names.contains(s.name)).map(_.seconds).sum))

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.isFile) f.length()
    else 0L
}

/** Training run for the JVM's class-data-sharing archive: one untimed pass
  * of every workload in one JVM, so the archive the JVM writes at exit holds
  * the classes that any workload loads. Later runs map the archive instead
  * of loading and verifying those classes one by one.
  *
  * Usage: Train --in DIR --out DIR --cores N
  */
object Train {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val spark = Main.session(opt("cores").toInt, opt("out"), traced = false)
    val tracer = new Tracer(spark, traced = false)
    Pipeline.Workloads.foreach { w =>
      val p = Pipeline(w, spark, tracer, opt("in"), s"${opt("out")}/$w")
      p.pass()
      p.cleanup()
    }
    spark.stop()
  }
}

/** A workload's pass: load → build → save → read, each a phase span. */
trait Pipeline {
  def pass(): Unit
  /** Directory the pass writes its saved output into. */
  def savedDir: String
  /** Total bytes of the input files graft reads. */
  def inputBytes: Long
  /** Releases what the pass cached; runs outside the timed region. */
  def cleanup(): Unit = ()
  /** Writes what the checker needs from the last pass. */
  def writeCheckOutputs(): Unit
}

object Pipeline {
  val Workloads = Seq("omics_load", "corpus_curation", "vector_search")

  def apply(workload: String, spark: SparkSession, t: Tracer, in: String, out: String): Pipeline =
    workload match {
      case "omics_load"      => new OmicsLoad(spark, t, in, out)
      case "corpus_curation" => new CorpusCuration(spark, t, in, out)
      case "vector_search"   => new VectorSearch(spark, t, in, out)
      case w                 => throw new IllegalArgumentException(s"unknown workload $w")
    }

  /** Spans that wrap one public graft call (the "operations"). */
  def isCall(name: String): Boolean = name.startsWith("api.") || name.startsWith("operators.")
  def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
  def inputSize(paths: String*): Long = paths.map(p => Main.dirBytes(new File(p))).sum
}

final class OmicsLoad(spark: SparkSession, t: Tracer, in: String, out: String) extends Pipeline {
  private val files = Seq("data.csv", "samples.csv", "features.csv").map(f => s"$in/omics/$f")
  val savedDir = s"$out/saved/omics"
  val inputBytes: Long = Pipeline.inputSize(files: _*)
  private var meltSums: Map[String, Double] = Map.empty
  private var reloadSums: Map[String, Double] = Map.empty

  def pass(): Unit = {
    val ds = t.span("phase.load") {
      val ds = t.span("api.load") {
        LoadDataset.load(spark, LoadDataset.Config(
          dataFiles = files.take(1),
          sampleMetadataFiles = Seq(files(1)),
          featureMetadataFiles = Seq(files(2)),
          sampleColumn = Some("sample"),
          batchColumn = Some("batch"),
          targetColumn = Some("label"),
          autoDiscoverMetadata = false))
      }
      ds.df.count()
      ds
    }
    val features = ds.roles.dataColumns
    val splits = t.span("phase.build") {
      meltSums = t.span("operators.reshape.melt") {
        ReshapeOps.melt(ds.df, Seq("sample"), features)
          .groupBy("variable").agg(sum("value").as("total"))
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      }
      t.span("operators.split")(ds.trainTestSplit(0.2, seed = 7L))
    }
    t.span("phase.save")(t.span("api.save")(DatasetIO.save(ds, savedDir, splits)))
    reloadSums = t.span("phase.read") {
      t.span("api.reload") {
        val (frames, _) = DatasetIO.load(spark, savedDir)
        val all = frames.values.reduce(_ unionByName _)
        val row = all.agg(sum(col(features.head)), features.tail.map(c => sum(col(c))): _*).collect()(0)
        features.zipWithIndex.map { case (c, i) => c -> row.getDouble(i) }.toMap
      }
    }
  }

  def writeCheckOutputs(): Unit = {
    Pipeline.write(s"$out/check_melt_sums.json", Json.obj(meltSums.toSeq.sortBy(_._1)))
    Pipeline.write(s"$out/check_reload_sums.json", Json.obj(reloadSums.toSeq.sortBy(_._1)))
  }
}

final class CorpusCuration(spark: SparkSession, t: Tracer, in: String, out: String) extends Pipeline {
  private val corpus = s"$in/corpus/corpus.parquet"
  val savedDir = s"$out/saved/corpus"
  val inputBytes: Long = Pipeline.inputSize(corpus)
  private val cached = mutable.ArrayBuffer.empty[DataFrame]
  private var near: DataFrame = _
  private var pairs: Array[(Long, Long, Double)] = Array.empty

  private def materialize(df: DataFrame): DataFrame = {
    cached += df.cache()
    df.count()
    df
  }

  def pass(): Unit = {
    val ds = t.span("phase.load") {
      val ds = t.span("api.load") {
        LoadDataset.load(spark, LoadDataset.Config(dataFiles = Seq(corpus), autoDiscoverMetadata = false))
      }
      ds.df.count()
      ds
    }
    val survivors = t.span("phase.build") {
      val kept = t.span("operators.text.quality") {
        materialize(TextOps.qualityScore(ds.df, "text").filter(col("quality") >= 0.8).select("id", "text"))
      }
      val exact = t.span("operators.dedup.exact")(materialize(DedupOps.exact(kept, "id", col("text"))))
      near = t.span("operators.dedup.minhash") {
        materialize(DedupOps.minhashLsh(exact, "id", "text", shingleSize = 5, numHashes = 64,
          rowsPerBand = 4, threshold = 0.7))
      }
      val clusters = t.span("operators.dedup.clusters") {
        materialize(DedupOps.dupClusters(near.select("id_a", "id_b")))
      }
      exact.join(clusters.filter(col("id") =!= col("cluster_id")).select("id"), Seq("id"), "left_anti")
    }
    t.span("phase.save")(t.span("api.save")(DatasetIO.save(ds.copy(df = survivors), savedDir)))
    t.span("phase.read") {
      t.span("api.reload") {
        val (frames, _) = DatasetIO.load(spark, savedDir)
        frames("train").select("id").collect()
      }
    }
  }

  override def cleanup(): Unit = {
    pairs = near.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    cached.foreach(_.unpersist(blocking = true))
    cached.clear()
  }

  def writeCheckOutputs(): Unit =
    Pipeline.write(s"$out/check_pairs.json",
      pairs.sorted.map { case (a, b, j) => s"[$a, $b, $j]" }.mkString("[\n", ",\n", "\n]\n"))
}

final class VectorSearch(spark: SparkSession, t: Tracer, in: String, out: String) extends Pipeline {
  private val corpusFile = s"$in/vectors/corpus.parquet"
  private val queryFile = s"$in/vectors/queries.parquet"
  val savedDir = s"$out/saved/index"
  val inputBytes: Long = Pipeline.inputSize(corpusFile, queryFile)
  val k = 10
  var nQueries = 0L
  private var results: Array[(Long, Long, Double, Int)] = Array.empty

  private def load(path: String): DataFrame =
    t.span("api.load")(LoadDataset.load(spark, LoadDataset.Config(dataFiles = Seq(path), autoDiscoverMetadata = false))).df

  def pass(): Unit = {
    val (corpus, queries) = t.span("phase.load") {
      val c = load(corpusFile)
      val q = load(queryFile)
      c.count()
      nQueries = q.count()
      (c, q)
    }
    val index = t.span("phase.build") {
      t.span("operators.ivf.fit") {
        IvfKnnOps.buildPqIndex(corpus, "id", "vec", nLists = 8, m = 16, kPerSub = 64, seed = 7L,
          maxIter = 10, maxSample = 4096)
      }
    }
    t.span("phase.save")(t.span("operators.ivf.save")(IvfKnnOps.savePqIndex(index, savedDir)))
    results = t.span("phase.read") {
      val loaded = t.span("operators.ivf.load")(IvfKnnOps.loadPqIndex(spark, savedDir))
      t.span("operators.ivf.query") {
        IvfKnnOps.pqTopK(queries, loaded, "id", "vec", k = k, nProbe = 2).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      }
    }
  }

  def writeCheckOutputs(): Unit =
    Pipeline.write(s"$out/check_topk.json",
      results.sorted.map { case (q, n, d, r) => s"[$q, $n, $d, $r]" }.mkString("[\n", ",\n", "\n]\n"))
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString("{", ", ", "}")
}
