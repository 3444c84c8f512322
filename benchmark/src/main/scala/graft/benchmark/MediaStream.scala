package graft.benchmark

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.operators.Dedup
import graft.queries.Round15Queries
import graft.streaming.EventStreams

/** The q197 incremental media screen run as a stream: the new third of
  * the documents lands as parquet files and one `AvailableNow` drain
  * screens them against the corpus fingerprints, micro-batch by
  * micro-batch. The union of the micro-batch outputs must equal the
  * one-shot `Dedup.simHashIncremental` result.
  */
final class MediaStream(dataDir: String, workDir: File) {
  val Name = "stream_media_dedup"
  private val root = new File(workDir, "stream")
  private val in = new File(root, "in")
  private val drains = new AtomicInteger(0)
  @volatile var lastBatches = 0

  private def newDocs(docs: DataFrame): DataFrame = docs.filter(col("doc_id") % 3 === 2).select("doc_id")
  private def corpus(sh: DataFrame): DataFrame = sh.filter(col("doc_id") % 3 =!= 2)

  /** Fingerprint of the one-shot screen over the same split. */
  def oneShot(spark: SparkSession): String = {
    val sh = Round15Queries.groupImageSh(Tables.documents(spark, dataDir)).persist()
    try Fingerprint(
      Dedup.simHashIncremental(sh.filter(col("doc_id") % 3 === 2), corpus(sh), "doc_id", 7, 64)
        .select("new_id", "old_id", "hamming"))
    finally sh.unpersist()
  }

  /** Lands the stream input and checks the one-shot screen against its
    * pinned fingerprint; every drain is then compared with it.
    */
  def prepare(spark: SparkSession, expect: (String, String) => () => Unit): Unit = {
    Workload.deleteTree(root)
    newDocs(Tables.documents(spark, dataDir)).repartition(2).write.parquet(in.getPath)
    expect(Name, oneShot(spark))()
  }

  def op(expect: (String, String) => () => Unit): Op = Op(Name, "streaming", ctx => {
    val spark = ctx.spark
    val n = drains.incrementAndGet()
    val out = new File(root, s"out-$n").getPath
    val ck = new File(root, s"ck-$n").getPath
    val sh = ctx.phase("queries.build") {
      Round15Queries.groupImageSh(Tables.documents(spark, dataDir)).persist(StorageLevel.MEMORY_AND_DISK)
    }
    ctx.phase("streaming.drain") {
      EventStreams.runMediaDedupAvailableNow(
        spark, in.getPath, spark.read.parquet(in.getPath).schema, corpus(sh),
        hashBatch = Round15Queries.groupImageSh,
        outDir = out, checkpointDir = ck,
        readerOptions = Map("maxFilesPerTrigger" -> "1"))
    }
    val fp = ctx.phase("action")(Fingerprint(spark.read.parquet(out).select("new_id", "old_id", "hamming")))
    val batches = new File(out).listFiles().count(_.getName.startsWith("batch_id="))
    lastBatches = batches
    val same = expect(Name, fp)
    () => { same(); WrongOutput.check(batches >= 2, s"$Name drained in $batches micro-batches, expected several") }
  })

  /** Drops the drain's output and checkpoint directories. */
  def clean(): Unit = Option(root.listFiles()).toSeq.flatten.filter(_ != in).foreach(Workload.deleteTree)
}
