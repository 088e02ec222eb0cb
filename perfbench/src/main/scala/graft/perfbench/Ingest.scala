package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.VectorMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{EnsembleArtifacts, GraftFunctions}
import graft.operators.{BpeOps, QualityModelOps}
import graft.sources.ShardWriter
import graft.streaming.IngestPipeline

/** The streaming ingest workload: landing files (written by
  * `ingest_gen.py`) → feedstock reader → fused quality gate + BPE ids
  * → shard sink, caught up with `processAllAvailable`. Closed loop:
  * each micro-batch starts when the previous one has committed.
  *
  * One pass is one catch-up of the whole backlog into a fresh shard and
  * checkpoint directory, with the gate's artifacts already trained. The
  * first pass also pays the cold training. */
object Ingest {
  import Main.{now, secs, median, noop, Opts}

  val nShards = 8

  final case class PassStats(wall: Double, docs: Long, batches: Seq[Double],
      planning: Double, commit: Double)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val paths = Files.walk(p).iterator().asScala.toSeq.reverse
      paths.foreach(Files.delete)
    }

  def ingestOnce(spark: SparkSession, landing: String, art: EnsembleArtifacts,
      dir: String, filesPerTrigger: Int): PassStats = {
    deleteTree(Paths.get(dir))
    val q = IngestPipeline.start(spark, landing, art, s"$dir/shards", s"$dir/ckpt",
      nShards, Some(filesPerTrigger))
    val t0 = now()
    try q.processAllAvailable() finally q.stop()
    val wall = secs(t0)
    val prog = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    def ms(k: String) = prog.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
    PassStats(wall, prog.map(_.numInputRows).sum,
      prog.map(p => Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L) / 1e3),
      ms("queryPlanning"), ms("walCommit") + ms("commitOffsets"))
  }

  def run(o: Opts): VectorMap[String, Any] = {
    val work = o("work")
    val data = o("data")
    val landing = o("landing")
    val fpt = o("files-per-trigger").toInt
    val traced = o("trace") == "1"

    val (spark, setup) = Main.setups(o)
    val sc = spark.sparkContext
    val listener = if (traced) Some(new LayerListener) else None
    listener.foreach(sc.addSparkListener)
    val errors = mutable.LinkedHashMap[String, String]()

    // first pass: cold training on the corpus, then the first catch-up
    val t0 = now()
    val art = QualityModelOps.ensembleArtifactsFor(spark, data)
    val trainS = secs(t0)
    val first = ingestOnce(spark, landing, art, s"$work/ingest/pass0", fpt)

    val seconds = o("seconds").toDouble
    val passes = mutable.ArrayBuffer[PassStats]()
    val passWork = mutable.ArrayBuffer[Work]()
    val passGc = mutable.ArrayBuffer[Double]()
    var failedPasses = 0
    val shardDirs = mutable.ArrayBuffer(s"$work/ingest/pass0/shards")
    val tSteady = now()
    while (passes.size + failedPasses == 0 || secs(tSteady) < seconds) {
      System.gc()
      val gc0 = Main.gcSeconds()
      val before = listener.map { l => PerfbenchBridge.drain(sc); l.sum(_ => true) }
      val p = passes.size + failedPasses + 1
      try {
        passes += ingestOnce(spark, landing, art, s"$work/ingest/pass$p", fpt)
        shardDirs += s"$work/ingest/pass$p/shards"
      }
      catch { case e: Throwable =>
        failedPasses += 1
        errors(s"pass$p") = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
      }
      passGc += Main.gcSeconds() - gc0
      listener.foreach { l =>
        PerfbenchBridge.drain(sc)
        passWork += l.sum(_ => true) - before.get
      }
    }
    val held = Main.heldBytes(spark)

    // traced run: the layer spans below run after the timed passes
    val layers = listener.map(_ =>
      layerSpans(spark, o, art, landing, shardDirs.last, fpt, passes.toSeq, passWork.toSeq,
        passGc.toSeq, held, trainS))
    Main.stop(spark)

    val docs = (first +: passes.toSeq).map(_.docs)
    VectorMap(
      "workload" -> "ingest",
      "passes" -> (passes.size + failedPasses + 1),
      "start_s" -> setup.start,
      "setup_s" -> setup.setups,
      "train_s" -> trainS,
      "first_pass_s" -> (trainS + first.wall),
      "pass_s" -> passes.map(_.wall),
      "op_s" -> passes.flatMap(_.batches),
      "docs_per_pass" -> docs,
      "failed_passes" -> failedPasses,
      "errors" -> errors.toMap,
      "shards" -> shardDirs.toSeq,
      "layers" -> layers.getOrElse(VectorMap.empty))
  }

  def timed[A](f: => A): (A, Double) = { val t0 = now(); val a = f; (a, secs(t0)) }

  def dirBytes(dir: String): Long =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => Files.size(p)).sum

  def layerSpans(spark: SparkSession, o: Opts, art: EnsembleArtifacts,
      landing: String, shardDir: String, fpt: Int, passes: Seq[PassStats],
      passWork: Seq[Work], passGc: Seq[Double], held: Double,
      trainS: Double): VectorMap[String, Double] = {
    val data = o("data")
    val work = o("work")
    // training, one artifact at a time (QualityModelOps.ensembleArtifactsFor's steps)
    val docs = Tables.spread(spark, Tables.documents(spark, data))
    val ((cb, cw), lmS) = timed {
      val (b, w) = QualityModelOps.lmModelOf(docs)
      (b.localCheckpoint(), w.localCheckpoint())
    }
    val (cuts, cutsS) = timed(QualityModelOps.pplCutsOf(QualityModelOps.lmPerplexity(spark, data)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))).localCheckpoint())
    val (dsir, dsirS) = timed(QualityModelOps.dsirModelOf(docs).localCheckpoint())
    val (_, collectS) = timed(EnsembleArtifacts.of(cb, cw, cuts, dsir))

    // the landing files streamed to noop: the feedstock reader alone
    val readDir = s"$work/ingest/read"
    deleteTree(Paths.get(readDir))
    val rq = spark.readStream.format("graft-feedstock").option("maxFilesPerTrigger", fpt.toString)
      .load(landing)
      .select(col("record.doc_id"), col("record.lang"), col("record.text"))
      .writeStream.format("noop").option("checkpointLocation", readDir).start()
    val (_, readS) = timed(try rq.processAllAvailable() finally rq.stop())
    val readDocs = rq.recentProgress.map(_.numInputRows).sum

    // batch projections over the landed corpus, materialized first
    val corpus = spark.read.format("graft-feedstock").load(landing)
      .select(col("record.doc_id").as("doc_id"), col("record.lang").as("lang"),
        col("record.text").as("text"))
      .localCheckpoint()
    val n = corpus.count().toDouble
    val (_, scoreS) = timed(noop(corpus.select(
      GraftFunctions.qualityEnsemble(col("text"), col("lang"), art).as("e"))))
    val (_, encodeS) = timed(noop(corpus.select(BpeOps.bpeTokenIds(
      filter(split(col("text"), " "), w => length(w) > 0),
      BpeOps.defaultModel, BpeOps.defaultIdMapBytes).as("ids"))))
    val gated = IngestPipeline.gatedDocs(corpus, art).localCheckpoint()
    val (_, writeS) = timed(ShardWriter.writeShards(gated, "doc_id", s"$work/ingest/write", nShards))
    val shardDocs = spark.read.parquet(shardDir).count().toDouble

    VectorMap(
      "EnsembleArtifacts.train_s" -> trainS,
      "QualityModelOps.lm_train_s" -> lmS,
      "QualityModelOps.ppl_cuts_s" -> cutsS,
      "QualityModelOps.dsir_train_s" -> dsirS,
      "EnsembleArtifacts.collect_s" -> collectS,
      "FeedstockV2.read_docs_per_s" -> readDocs / readS,
      "EnsembleExpressions.docs_per_s" -> n / scoreS,
      "BpeOps.encode_docs_per_s" -> n / encodeS,
      "ShardWriter.write_s" -> writeS,
      "ShardWriter.bytes_per_doc" -> dirBytes(shardDir) / math.max(shardDocs, 1.0),
      "IngestPipeline.planning_s" -> median(passes.map(_.planning)),
      "IngestPipeline.commit_s" -> median(passes.map(_.commit)),
      "spark.stages" -> median(passWork.map(_.stages.toDouble)),
      "spark.tasks" -> median(passWork.map(_.tasks.toDouble)),
      "spark.spill_bytes" -> median(passWork.map(_.spillBytes.toDouble)),
      "jvm.gc_s" -> median(passGc),
      "SessionCache.held_bytes" -> held,
      "Tables.input_bytes" -> median(passWork.map(_.inputBytes.toDouble)),
      "Tables.input_rows" -> median(passWork.map(_.inputRows.toDouble)),
      "trace.pass_s" -> median(passes.map(_.wall)))
  }
}
