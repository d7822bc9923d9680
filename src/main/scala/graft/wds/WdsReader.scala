package graft.wds

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

/** Spark read path for WebDataset tar shards.
  *
  * Design (SURVEY.md §4.2): a tar must be read sequentially, so the unit
  * of parallelism is the shard — exactly the reference's process-per-tar
  * model (`pack/pack.py:293`), but scheduled by Spark. The shard list is
  * parallelized one-shard-per-partition; each task streams its tar
  * through [[Gopen]] (file:/hdfs:/s3a: via Hadoop FS, `pipe:command`
  * via a subprocess stream — the full gopen scheme table, without
  * materializing the archive) and emits grouped samples.
  *
  * `select_files`/`suffixes` act as entry-level pushdown: filtered
  * entries are skipped during the scan, before any grouping — the tar
  * analog of parquet column pruning.
  */
object WdsReader {

  /** Read shards from a spec (brace/env/`::` expansion included). */
  def read(
      spark: SparkSession,
      spec: String): Dataset[Sample] =
    readUrls(spark, ShardList.expand(spec), TarIO.ReadOptions())

  def read(
      spark: SparkSession,
      spec: String,
      opts: TarIO.ReadOptions): Dataset[Sample] =
    readUrls(spark, ShardList.expand(spec), opts)

  /** One shard per partition: tars are non-splittable and the scan is
    * sequential; at cluster scale the scheduler packs shards onto
    * executors — same granularity as the reference fleet. */
  def readUrls(
      spark: SparkSession,
      urls: Seq[String],
      opts: TarIO.ReadOptions = TarIO.ReadOptions()): Dataset[Sample] = {
    require(urls.nonEmpty, "empty shard list")
    readUrlGroups(spark, urls.map(Seq(_)), opts)
  }

  /** Explicit shard grouping: partition i streams exactly `groups(i)`'s
    * shards, in order — the compaction executor's plan-driven layout
    * (variable group sizes; partitionId == merge-group id). ONE job,
    * one parallelize: per-group DataFrames would cost a driver-side
    * plan each, which at hundreds of merge groups dominates wall time
    * (measured: wds20 at sf1, 200 groups — see SCALE.md round 8). */
  def readUrlGroups(
      spark: SparkSession,
      groups: Seq[Seq[String]],
      opts: TarIO.ReadOptions = TarIO.ReadOptions()): Dataset[Sample] = {
    implicit val enc = Encoders.product[Sample]
    require(groups.nonEmpty && groups.forall(_.nonEmpty), "empty group")
    val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    val bc = spark.sparkContext.broadcast(conf)
    // parallelize(n items, n slices) slices contiguously — EXACTLY one
    // group per partition, in list order (round-robin repartition gave
    // no such guarantee: partitions could receive 0 or 2 groups)
    spark.createDataset(
      spark.sparkContext.parallelize(groups, groups.size)
        .mapPartitions(it => it.flatMap(group =>
          readPartition(group.iterator, bc.value.value, opts))))
  }

  /** Like [[readUrls]], but `groupSize` consecutive shards share one
    * partition — the tokenize stage's `shard_size` merge-group contract
    * (`tokenize/main.py:220-264`): one greedy-pack fold then spans that
    * many input tars, in list order. */
  def readUrlsGrouped(
      spark: SparkSession,
      urls: Seq[String],
      groupSize: Int,
      opts: TarIO.ReadOptions = TarIO.ReadOptions()): Dataset[Sample] = {
    require(urls.nonEmpty, "empty shard list")
    require(groupSize >= 1, s"groupSize $groupSize")
    readUrlGroups(spark, urls.grouped(groupSize).toSeq, opts)
  }

  /** Open one shard as a grouped-sample iterator plus its closer.
    * Routes pruned reads (entry select / names-only) of seekable URLs
    * through [[TarIO.readSamplesSeekable]] — payloads the pruning
    * drops are SOUGHT PAST instead of read through — and everything
    * else (unpruned scans, `pipe:` producers, gzipped shards) through
    * the sequential stream. Open errors propagate to the caller's
    * handler policy. */
  private[wds] def openSamples(
      url: String,
      conf: Configuration,
      opts: TarIO.ReadOptions): (Iterator[Sample], () => Unit) = {
    // the seekable attempt is best-effort: an FS that misreports
    // length or rejects seeks mid-probe falls back to the sequential
    // stream, whose error story the handler policy already owns
    // tiny shards stream even when pruning asks to seek: reading a
    // small tar through costs at most its size, while per-entry seeks
    // cost more than they save (TarIO.MinSeekBytes rationale) — the
    // threshold is decided from the file status, before any open
    val seekable =
      if (TarIO.shouldSeek(url, opts))
        try Gopen.openSeekable(url, conf, TarIO.MinSeekBytes)
        catch { case _: Exception => None }
      else None
    seekable match {
      case Some(ch) =>
        try (TarIO.readSamplesSeekable(ch, url, opts),
          () => try ch.close() catch { case _: Exception => () })
        catch {
          case _: Exception =>
            try ch.close() catch { case _: Exception => () }
            val in = Gopen.open(url, conf)
            (TarIO.readSamples(in, url, opts),
              () => try in.close() catch { case _: Exception => () })
        }
      case None =>
        val in = Gopen.open(url, conf)
        (TarIO.readSamples(in, url, opts),
          () => try in.close() catch { case _: Exception => () })
    }
  }

  /** Stream every shard of one task. Open errors route through the
    * handler policy, like the reference's url_opener
    * (`tariterators.py:66-94`): continue ⇒ skip the shard, stop ⇒ end
    * this task's stream (no further shards from this partition). */
  private[wds] def readPartition(
      urls: Iterator[String],
      conf: Configuration,
      opts: TarIO.ReadOptions): Iterator[Sample] = {
    var stopped = false
    urls.flatMap { url =>
      if (stopped) Iterator.empty
      else
        try {
          val (samples, close) = openSamples(url, conf, opts)
          // close at task end (covers exhaustion, errors, and task
          // kill — a long-lived executor must not leak fds/S3A
          // connections across thousands of shards)
          Option(org.apache.spark.TaskContext.get()).foreach(
            _.addTaskCompletionListener[Unit](_ => close()))
          samples
        } catch {
          case e: Exception =>
            if (!Handler.handle(opts.handler, s"open $url", e))
              stopped = true
            Iterator.empty
        }
    }
  }
}

/** Minimal serializable Hadoop Configuration carrier (Spark's own
  * SerializableConfiguration is spark-private API). */
final class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}
