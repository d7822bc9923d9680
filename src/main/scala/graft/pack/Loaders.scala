package graft.pack

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S15 — corpus metadata loader normalizers
  * (`pack/dataset_loader.py:52-218`): each heterogeneous metadata format
  * becomes the canonical `(video_path STRING, value STRING)` frame the
  * pack stage consumes. Driver-side python loops in the reference (ijson
  * streaming over 932k records, pandas read_json) become distributed
  * `spark.read.json` scans — the 100 TB path needs no special casing.
  */
object Loaders {

  /** webvid/cambrain-style: one json object of parallel index-keyed maps
    * `{"image": {"0": path...}, "value": {"0": caption...}}`
    * (`dataset_loader.py:52-78`). Path prefix prepended, as
    * `get_prefix` does. */
  def loadCaptionMap(
      spark: SparkSession, path: String, prefix: String = ""): DataFrame = {
    val schema = StructType(Seq(
      StructField("image", MapType(StringType, StringType)),
      StructField("value", MapType(StringType, StringType))))
    spark.read.option("wholetext", true).text(path)
      .select(from_json(col("value"), schema).as("j"))
      .select(explode(col("j.image")).as(Seq("k", "rel")),
        col("j.value").as("values"))
      .select(concat(lit(prefix), col("rel")).as("video_path"),
        element_at(col("values"), col("k")).as("value"))
  }

  /** ego4d/hd3m-style: json array of `{video_path|video, caption}`
    * (`dataset_loader.py:80-90,118-129`). */
  def loadCaptionArray(spark: SparkSession, path: String,
      prefix: String = ""): DataFrame = {
    val df = spark.read.option("multiLine", true).json(path)
    val pathCol =
      if (df.columns.contains("video_path")) col("video_path")
      else col("video")
    df.select(concat(lit(prefix), pathCol).as("video_path"),
      col("caption").as("value"))
  }

  /** internvid-style jsonl: `YoutubeID, Start_timestamp, End_timestamp,
    * Caption` — the clip path is `{id}_{start}_{end}.mp4`
    * (`dataset_loader.py:149-166`): captions are per-CLIP, so dropping
    * the timestamps would collapse every clip of a video onto one
    * path. */
  def loadJsonl(spark: SparkSession, path: String,
      prefix: String = ""): DataFrame =
    spark.read.json(path)
      .select(concat(lit(prefix),
        concat_ws("_", col("YoutubeID"), col("Start_timestamp"),
          col("End_timestamp")), lit(".mp4")).as("video_path"),
        col("Caption").as("value"))

  /** how2link-style: array of records with nested `clips` arrays —
    * `explode` replaces the reference's streaming-ijson driver loop
    * (`dataset_loader.py:131-147`). */
  def loadClips(spark: SparkSession, path: String,
      prefix: String = ""): DataFrame =
    spark.read.option("multiLine", true).json(path)
      .select(explode(col("clips")).as("c"))
      .select(concat(lit(prefix), col("c.clip_path")).as("video_path"),
        col("c.caption").as("value"))

  /** sft/llava/videochat2-style: `{image|video, conversations:[{from,
    * value}]}` — conversations carried as canonical JSON text
    * (`dataset_loader.py:168-218`). */
  def loadConversations(spark: SparkSession, path: String,
      prefix: String = ""): DataFrame = {
    val df = spark.read.option("multiLine", true).json(path)
    val pathCol =
      if (df.columns.contains("video")) col("video") else col("image")
    df.select(concat(lit(prefix), pathCol).as("video_path"),
      to_json(col("conversations")).as("value"))
  }

  /** unicontrol-style jsonl: `{source, control_*, prompt}` → two-path
    * rows (`dataset_loader.py:92-116`). */
  def loadUnicontrol(spark: SparkSession, path: String,
      sourcePrefix: String = "", targetPrefix: String = ""): DataFrame = {
    val df = spark.read.json(path)
    val controlCol = df.columns.find(_.startsWith("control_"))
      .getOrElse(throw new IllegalArgumentException("no control_* column"))
    df.select(
      concat(lit(sourcePrefix), col("source")).as("video_path"),
      concat(lit(targetPrefix), col(controlCol)).as("target_path"),
      col("prompt").as("value"))
  }

  /** videochat2-style (`dataset_loader.py:208-218`): `{images: [...],
    * conversations: [...]}` records — the merlin-un sampler's input
    * (multi-image + ready-made turns). */
  def loadVideochat2(spark: SparkSession, path: String,
      prefix: String = ""): DataFrame =
    spark.read.option("multiLine", true).json(path)
      .select(
        concat(lit(prefix), element_at(col("images"), 1)).as("video_path"),
        to_json(col("conversations")).as("value"),
        transform(col("images"), i => concat(lit(prefix), i))
          .as("media_paths"))

  /** sft fallback (`dataset_loader.py:168-176`): the dataset ARG is a
    * path to a json array of `{video, QA}` records; the QA list rides
    * as canonical JSON text for the video_sft sampler. */
  def loadSft(spark: SparkSession, path: String,
      prefix: String = ""): DataFrame =
    spark.read.option("multiLine", true).json(path)
      .select(concat(lit(prefix), col("video")).as("video_path"),
        to_json(col("QA")).as("value"))

  /** merlin-s interleave metadata (`dataset_loader.py:188-199`): records
    * of `{image_info: [{image_name}, …], text_list}` → the canonical
    * (video_path, value, media_paths) frame the merlin-s sampler
    * consumes (`samplers.py:48-72` iterates `image_info` dicts by their
    * `image_name` field). The reference streams one giant JSON array
    * with ijson on the driver; the distributed equivalent reads the
    * same records as jsonl (or the single-array file via `multiLine`). */
  def loadMerlin(spark: SparkSession, path: String,
      multiLine: Boolean = false): DataFrame = {
    val df = spark.read.option("multiLine", multiLine).json(path)
    // text_list may be a single string OR a list of segments; PackStage
    // takes value: String, so arrays serialize like the other
    // array-carrying loaders do
    val value = df.schema("text_list").dataType match {
      case _: org.apache.spark.sql.types.ArrayType => to_json(col("text_list"))
      case _ => col("text_list")
    }
    df.select(
      element_at(col("image_info.image_name"), 1).as("video_path"),
      value.as("value"),
      col("image_info.image_name").as("media_paths"))
  }
}
