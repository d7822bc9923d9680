package graft.index

import graft.functions.PackedJsonStats
import graft.wds.Sample
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** E3 — the index/check stage (`index/check_pair.py`): scan tokenized
  * shards, assert structural invariants, emit the `{url, nsamples}` shard
  * index and a human-inspection sample.
  *
  * The gate is one streaming scan per bin: [[PackedJsonStats]] walks
  * the json entry's bytes once inside whole-stage codegen and returns
  * the five counts the invariants need, and the flags are DataFrame
  * predicates over those counts. At 100 TB this stays a single codegen'd
  * scan + one tiny groupBy(url) hash aggregation (A1/A2), with no id
  * array ever built. A bin as the tokenize stage writes it is counted
  * on its UTF-8 bytes alone; any other entry is read by Jackson the way
  * `from_json` reads it (the two readings are described on
  * [[graft.functions.PackedJsonScanner]]). Only the 1 % inspection
  * dump, which prints the arrays, parses the entry with `from_json`,
  * and preflight fails on a second such call in this package. The gate
  * and the dump parse separately; `PackedJsonStatsSpec` keeps them in
  * agreement by checking every gate column against the same columns
  * computed from the `from_json` arrays, row for row.
  */
object CheckStage {

  /** Tokenized-shard json schema (FIXTURES.md A3). */
  val PackedJsonSchema: StructType = StructType(Seq(
    StructField("image", ArrayType(StringType)),
    StructField("input_ids", ArrayType(IntegerType)),
    StructField("loss_mask", ArrayType(IntegerType)),
    StructField("text", ArrayType(StringType))))

  val ImPatchId = 32000
  val ImStartId = 32001
  val ImEndId = 32002
  val PatchesPerImage = 256
  val MaxTokens = 8000

  /** Flag each sample with its invariant violations
    * (`check_pair.py:37-40`). A missing or unparseable json entry is
    * its own violation (bad_parse): null flags would otherwise slip
    * corrupt samples past the strict filter's three-valued OR. Each
    * column equals what `size`/`array_remove` over the `from_json`
    * arrays gives, null arrays included. */
  def checked(shards: Dataset[Sample]): DataFrame = {
    val s = col("s")
    // size() of a null array: -1 under spark.sql.legacy.sizeOfNull
    // without ANSI, else null; folded to a literal at planning
    val nullSize = size(lit(null).cast(ArrayType(IntegerType)))
    def sz(f: String) = coalesce(s.getField(f), nullSize)
    // size(ids) - size(array_remove(ids, id)): the count, or
    // nullSize - nullSize when the ids are null
    def countId(f: String) = coalesce(s.getField(f), nullSize - nullSize)
    val bad = (c: Column) => coalesce(c, lit(true))
    shards.toDF()
      .select(col("key"), col("url"),
        PackedJsonStats.stats(col("entries").getItem("json")).as("s"))
      .select(
        col("key"), col("url"),
        sz("ids").as("n_tokens"),
        sz("images").as("n_images"),
        (s.isNull || s.getField("ids").isNull).as("bad_parse"),
        bad(sz("ids") =!= sz("mask")).as("bad_mask_len"),
        bad(sz("ids") >= MaxTokens).as("bad_token_len"),
        bad(countId("start") =!= countId("end")).as("bad_start_end"),
        bad(countId("patch") =!= sz("images") * PatchesPerImage)
          .as("bad_patch_count"))
  }

  /** Shard index `{url, nsamples}` (`check_pair.py:46`); throws if any
    * invariant fails — the stage IS the correctness gate. One aggregate
    * per tar carries both the sample count and the violation count, so
    * the gate and the index share one scan. The index is one row per
    * tar — driver-sized by construction (the reference collects and
    * pickles it, `check_pair.py:59-66`) — so it is collected in url
    * order and returned as a LocalRelation: nothing stays cached after
    * the call. */
  def index(shards: Dataset[Sample], strict: Boolean = true): DataFrame = {
    val anyBad = col("bad_parse") || col("bad_mask_len") ||
      col("bad_token_len") || col("bad_start_end") || col("bad_patch_count")
    val agg = checked(shards).groupBy(col("url")).agg(
      count(lit(1)).as("nsamples"),
      sum(when(anyBad, 1L).otherwise(0L)).as("n_bad"))
    // one task sorts the per-tar rows after the aggregate's exchange:
    // Spark's own url order, with no range-partitioning exchange
    val rows = agg.coalesce(1).sortWithinPartitions(col("url")).collect()
    if (strict) {
      val n = rows.map(_.getLong(2)).sum
      require(n == 0, s"$n samples violate tokenized-shard invariants")
    }
    val index = new java.util.ArrayList[Row]()
    rows.foreach(r => index.add(Row(r.getString(0), r.getLong(1))): Unit)
    shards.sparkSession.createDataFrame(index,
      StructType(agg.schema.fields.take(2)))
  }

  /** Write the index in the REFERENCE's artifact format: one pickle of
    * `list[dict(url=str, nsamples=int)]` (`check_pair.py:59-66`:
    * `pickle.dump(outputs, open(....pkl, "wb"))`), loadable by the
    * fleet's CPython consumers — the migration seam for users whose
    * downstream tooling reads the .pkl index. `idx` is driver-sized
    * by construction (one row per tar). */
  def writePickleIndex(idx: DataFrame, path: String,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val rows: Any = idx.select(col("url"), col("nsamples")).collect()
      .toVector
      .map(r => graft.wds.Pickle.Dict(Vector(
        "url" -> r.getString(0), "nsamples" -> r.getLong(1))))
    val bytes = graft.wds.Pickle.encode(rows)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  /** Driver-side buffering ceiling for [[readPickleIndex]]: an index is
    * `{url, nsamples}` per tar (~100 bytes/shard → 256 MiB covers
    * ~2.5M shards, far past any real fleet), while a WRONG path — a
    * shard, a parquet file — would otherwise buffer wholesale on the
    * driver before the decoder rejects it. */
  val MaxPickleIndexBytes: Long = 256L << 20

  /** Read a reference-produced (or [[writePickleIndex]]-produced)
    * `.pkl` shard index back as a DataFrame — the reverse migration
    * seam: a user bringing the fleet's existing pickled indexes can
    * join them against engine output without CPython in the loop. */
  def readPickleIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val len = fs.getFileStatus(p).getLen
    if (len > MaxPickleIndexBytes)
      throw new IllegalArgumentException(
        s"readPickleIndex($path): $len bytes exceeds the " +
          s"$MaxPickleIndexBytes-byte index ceiling — a .pkl shard " +
          "index is {url, nsamples} per tar; this looks like a shard " +
          "or data file, not an index")
    val in = fs.open(p)
    val bytes = try in.readAllBytes() finally in.close()
    val rows = graft.wds.Pickle.decode(bytes) match {
      case items: Vector[_] => items.map { d =>
        val m = graft.wds.Pickle.toMap(d)
        (m("url").asInstanceOf[String], m("nsamples") match {
          case l: Long => l
          case b: BigInt => b.toLong
          case other => throw new IllegalArgumentException(
            s"nsamples: $other")
        })
      }
      case other => throw new IllegalArgumentException(
        s"not a pickled index list: ${other.getClass.getName}")
    }
    import spark.implicits._
    rows.toDF("url", "nsamples")
  }

  /** 1 % human-inspection dump (`check_pair.py:16-26,41-42`): ground
    * truth text next to the loss-masked token stream. The entry is cast
    * to a string, not decoded: an entry that is not valid UTF-8 parses
    * with replacement characters instead of failing the job. */
  def inspectionSample(shards: Dataset[Sample], frac: Double = 0.01,
      seed: Long = 42L): DataFrame =
    shards.toDF()
      .sample(withReplacement = false, frac, seed)
      .withColumn("j", from_json(
        col("entries").getItem("json").cast(StringType), PackedJsonSchema))
      .select(col("key"), col("url"),
        concat_ws(" ", col("j.text")).as("gt_text"),
        col("j.input_ids").as("input_ids"),
        filter(arrays_zip(col("j.input_ids"), col("j.loss_mask")),
          s => s.getField("loss_mask") === 1)
          .getField("input_ids").as("loss_tokens"))
}
