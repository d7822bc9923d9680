package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WdsPayloadPrune: element_at-only wds reads get payload_select
  * injected (and so seek past every other entry's bytes); anything
  * that could observe other payloads blocks the rewrite. */
class WdsPayloadPruneSpec extends SparkSpec {

  private lazy val tar: String = {
    val dir = java.nio.file.Files.createTempDirectory("wpp").toString
    val out = new java.io.FileOutputStream(s"$dir/shard.tar")
    val w = new graft.wds.TarIO.TarWriter(out)
    val fat = Array.fill[Byte](1 << 20)(7)
    (0 until 6).foreach { i =>
      val entries: Map[String, Array[Byte]] =
        if (i == 5) Map("bin" -> fat) // no txt: row must STILL appear
        else Map("txt" -> s"text $i".getBytes("UTF-8"), "bin" -> fat)
      w.write(graft.wds.Sample(f"$i%06d", "", entries)): Unit
    }
    w.close()
    s"$dir/shard.tar"
  }

  private def planStr(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def fileBytesRead: Long = {
    val s = org.apache.hadoop.fs.FileSystem
      .getGlobalStorageStatistics.get("file")
    if (s == null) 0L else s.getLong("bytesRead").longValue()
  }

  test("element_at-only read: payload_select injected, values exact, " +
      "row count preserved, bytes-read drops") {
    val df = spark.read.format("wds").load(tar)
      .select(col("key"),
        element_at(col("entries"), "txt").cast("string").as("t"))
      .orderBy(col("key"))
    assert(planStr(df).contains("payload_select=[*.txt]"), planStr(df))
    val b0 = fileBytesRead
    val got = df.collect().map(r => r.getString(0) -> r.getString(1))
    val pruned = fileBytesRead - b0
    // all 6 samples present — including the one WITHOUT a txt entry
    assert(got.length == 6)
    assert(got.take(5).forall { case (k, t) => t == s"text ${k.toInt}" })
    assert(got.last._2 == null)
    // vs the unpruned read of the same projection (select=* matches
    // every entry AND blocks the rewrite). The pruned scan's true need
    // is headers+txt (~7 KB — verified at the channel layer in
    // TarIOSpec); Hadoop's buffered local stream refills ~64 KB at
    // every seek point and the FS stat counts that readahead, so the
    // assertion is a ratio, not an absolute.
    val full = spark.read.format("wds").option("select", "*")
      .load(tar)
      .select(col("key"),
        element_at(col("entries"), "txt").cast("string").as("t"))
      .orderBy(col("key"))
    assert(!planStr(full).contains("payload_select"))
    val b1 = fileBytesRead
    assert(full.collect().length == 6)
    val fullBytes = fileBytesRead - b1
    assert(pruned * 3 < fullBytes,
      s"pruned read moved $pruned of $fullBytes unpruned bytes")
  }

  test("whole-map reads are NOT rewritten; value-observing element_at " +
      "keeps real bytes") {
    val whole = spark.read.format("wds").load(tar)
      .select(col("key"), col("entries"))
    assert(!planStr(whole).contains("payload_select"), planStr(whole))
    assert(whole.collect().forall(
      _.getMap[String, Array[Byte]](1).nonEmpty))
    // a bin-observing projection keeps the real bytes
    val sizes = spark.read.format("wds").load(tar)
      .select(length(element_at(col("entries"), "bin")).as("n"))
    assert(planStr(sizes).contains("payload_select=[*.bin]"))
    assert(sizes.collect().forall(_.getInt(0) == (1 << 20)))
  }

  test("key-structure-only reads prune EVERY payload (names flow): " +
      "map_keys / size / map_contains_key") {
    // payload blanking keeps entry NAMES, so key-structure audits are
    // identical under pruning — and with no value observed anywhere,
    // the match-nothing glob blanks everything
    val keysQ = spark.read.format("wds").load(tar)
      .select(col("key"), map_keys(col("entries")).as("ks"))
      .orderBy("key")
    assert(planStr(keysQ).contains("payload_select=[-none-]"),
      planStr(keysQ))
    val ks = keysQ.collect().map(_.getSeq[String](1).sorted.mkString(","))
    assert(ks.take(5).forall(_ == "bin,txt") && ks.last == "bin")
    val sizeQ = spark.read.format("wds").load(tar)
      .select(size(col("entries")).as("n"))
    assert(planStr(sizeQ).contains("payload_select=[-none-]"))
    assert(sizeQ.collect().map(_.getInt(0)).sum == 11) // 5*2 + 1
    val hasQ = spark.read.format("wds").load(tar)
      .select(map_contains_key(col("entries"), "txt").as("h"))
    assert(planStr(hasQ).contains("payload_select=[-none-]"))
    assert(hasQ.collect().count(_.getBoolean(0)) == 5)
    // MIXED: key-structure + a value read → prune to the value's key,
    // names still complete, values real
    val mixed = spark.read.format("wds").load(tar)
      .select(map_keys(col("entries")).as("ks"),
        element_at(col("entries"), "txt").cast("string").as("t"))
    assert(planStr(mixed).contains("payload_select=[*.txt]"),
      planStr(mixed))
    val rows = mixed.collect()
    assert(rows.count(_.getString(1) != null) == 5)
    assert(rows.count(_.getSeq[String](0).contains("bin")) == 6,
      "pruning dropped entry NAMES")
  }

  test("a cached raw read stays unpruned: later consumers get real " +
      "bytes") {
    // df.cache() materializes the RAW read's plan — its root output
    // carries `entries` bare, so the rule must not fire there; a
    // narrow consumer then reads the (full) cache, and a later wide
    // consumer still sees every payload
    val df = spark.read.format("wds").load(tar)
    df.cache()
    try {
      val narrow = df
        .select(element_at(col("entries"), "txt").cast("string").as("t"))
      assert(narrow.collect().count(_.getString(0) != null) == 5)
      val wide = df.select(
        length(element_at(col("entries"), "bin")).as("n"))
      assert(wide.collect().forall(_.getInt(0) == (1 << 20)),
        "cached read lost payload bytes")
    } finally { df.unpersist(): Unit }
  }

  test("an explicit user select option blocks the rewrite") {
    val df = spark.read.format("wds").option("select", "*.txt").load(tar)
      .select(element_at(col("entries"), "txt").as("t"))
    val p = planStr(df)
    assert(p.contains("select=[*.txt]") && !p.contains("payload_select"), p)
  }

  test("multi-key and filter uses collect all keys") {
    val df = spark.read.format("wds").load(tar)
      .filter(element_at(col("entries"), "txt").isNotNull)
      .select(length(element_at(col("entries"), "bin")).as("n"),
        element_at(col("entries"), "txt").cast("string").as("t"))
    val p = planStr(df)
    assert(p.contains("payload_select=[*.bin,*.txt]"), p)
    assert(df.count() == 5) // the txt-less sample filtered out
  }

  test("union: a branch forwarding entries to the root blocks pruning " +
      "of BOTH scans (Union reuses only the head child's exprIds)") {
    // the ADVICE round-13 soundness hole: without positional id
    // propagation across Union, the non-head branch's `entries` never
    // appears in plan.output and its scan got pruned even though its
    // full map reaches the root through the Union
    def branch() = spark.read.format("wds").load(tar)
      .select(element_at(col("entries"), "txt").cast("string").as("t"),
        col("entries"))
    val u = branch().union(branch()).select(col("entries"))
    assert(!planStr(u).contains("payload_select"), planStr(u))
    // every payload — including bin — must be real in every branch
    val maps = u.collect().map(_.getMap[String, Array[Byte]](0))
    assert(maps.count(m => m.contains("bin") &&
      m("bin").length == (1 << 20)) == 12,
      "a union branch lost payload bytes")
  }

  test("union of two conforming element_at reads prunes both scans") {
    def branch() = spark.read.format("wds").load(tar)
      .select(element_at(col("entries"), "txt").cast("string").as("t"))
    val u = branch().union(branch())
    val p = planStr(u)
    // both scans rewritten: the marker appears for each relation
    assert("payload_select=\\[\\*\\.txt\\]".r
      .findAllIn(p).size == 2, p)
    assert(u.collect().count(_.getString(0) != null) == 10)
  }

  test("CTE with one ref forwarding entries to the root: payloads " +
      "stay real (inlined CTEs prune per-branch; retained CTEs bail)") {
    // When InlineCTE expands the refs (the common case), each branch
    // gets its OWN scan and pruning only the element_at branch is
    // sound — the forwarding branch's scan must stay unpruned. When a
    // multi-ref non-cheap def is RETAINED instead (WithCTE survives),
    // CTERelationRefs mint fresh exprIds the use-walk cannot see, so
    // the rule must bail wholesale (guard-tested below). Either way
    // the observable contract is the same: the forwarded map's fat
    // payload is REAL bytes.
    spark.read.format("wds").load(tar).createOrReplaceTempView("wpp_cte")
    val df = spark.sql(
      """WITH c AS (
        |  SELECT w.key, w.entries FROM wpp_cte w
        |  JOIN (SELECT explode(sequence(0, 5)) AS n) d
        |    ON cast(w.key AS INT) = d.n)
        |SELECT a.t, b.entries
        |FROM (SELECT key, element_at(entries, 'txt') AS t FROM c) a
        |JOIN (SELECT key, entries FROM c) b ON a.key = b.key""".stripMargin)
    val rows = df.collect()
    assert(rows.length == 6)
    val maps = rows.map(_.getMap[String, Array[Byte]](1))
    assert(maps.forall(_("bin").length == (1 << 20)),
      "a pruned scan leaked blanked payloads through the second CTE ref")
  }

  test("retained CTEs: bail only when a def/ref output carries the " +
      "entries map type (those refs could forward raw payloads); " +
      "payload-free CTEs prune") {
    import org.apache.spark.sql.catalyst.plans.logical.{CTERelationDef,
      WithCTE}
    val conforming = spark.read.format("wds").load(tar)
      .select(element_at(col("entries"), "txt"))
      .queryExecution.analyzed
    // conforming on its own — the rule prunes this shape...
    assert(WdsPayloadPrune(conforming) ne conforming)
    // ...and a retained CTE whose def output is payload-free (just the
    // element_at value) cannot smuggle the map through a ref, so the
    // narrowed bail lets the body prune too
    val safeCte = WithCTE(conforming, Seq(CTERelationDef(conforming)))
    assert(WdsPayloadPrune(safeCte) ne safeCte,
      "a payload-free retained CTE must not block the rewrite")
    // a def whose output CARRIES the entries map — fresh ref exprIds
    // would hide any use of the forwarded map, so the rule must bail
    // verbatim even though the body looks conforming
    val forwards = spark.read.format("wds").load(tar)
      .select(col("key"), col("entries"))
      .queryExecution.analyzed
    val fatCte = WithCTE(conforming, Seq(CTERelationDef(forwards)))
    assert(WdsPayloadPrune(fatCte) eq fatCte,
      "an entries-carrying retained CTE must block the rewrite")
  }

  test("a wds scan inside an EXISTS/IN subquery prunes (the SQL " +
      "spelling of decontamination against a packed corpus)") {
    spark.read.format("wds").load(tar).createOrReplaceTempView("wpp_sub")
    val docs = spark.range(0, 6)
      .selectExpr("id", "concat('text ', id) AS text")
    docs.createOrReplaceTempView("wpp_docs")
    val df = spark.sql(
      """SELECT id FROM wpp_docs d
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM wpp_sub w
        |  WHERE cast(element_at(w.entries, 'txt') AS STRING) = d.text)
        |ORDER BY id""".stripMargin)
    // the inner scan must carry payload_select even though it lives in
    // a (pre-pushdown) subquery plan; post-rewrite it is a join branch
    val p = planStr(df)
    assert(p.contains("payload_select=[*.txt]"), p)
    // doc 5's text never appears in the shards (sample 5 has no txt):
    // ids 0-4 match, id 5 survives the anti join
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(5L))
  }

  test("a scalar subquery FORWARDING the entries map does not prune " +
      "its scan; one returning a scalar does") {
    spark.read.format("wds").load(tar).createOrReplaceTempView("wpp_sc")
    // the map escapes through the subquery root: scan stays unpruned
    // and the forwarded payloads are REAL bytes
    val fat = spark.sql(
      """SELECT (SELECT first(entries) FROM wpp_sc) AS e""".stripMargin)
    assert(!planStr(fat).contains("payload_select"), planStr(fat))
    assert(fat.collect().head.getMap[String, Array[Byte]](0)
      .exists(_._1 == "bin"))
    // a scalar value derived via element_at: the subquery scope prunes
    val slim = spark.sql(
      """SELECT (SELECT count(element_at(entries, 'txt')) FROM wpp_sc)
        |  AS n""".stripMargin)
    assert(planStr(slim).contains("payload_select=[*.txt]"),
      planStr(slim))
    assert(slim.collect().head.getLong(0) == 5L)
  }

  test("a correlated OUTER use of entries inside a subquery blocks " +
      "pruning of the outer scan (bare use through OuterReference)") {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    spark.read.format("wds").load(tar).createOrReplaceTempView("wpp_cor")
    // outer plan projects only element_at (conforming on its own), but
    // the correlated predicate hands the WHOLE map to the subquery —
    // pruning the outer scan would change which rows survive
    val df = spark.sql(
      """SELECT cast(element_at(entries, 'txt') AS STRING) AS t
        |FROM wpp_cor w
        |WHERE EXISTS (
        |  SELECT 1 FROM (SELECT 1 AS one) d
        |  WHERE size(map_filter(w.entries, (k, v) -> length(v) > 10))
        |    > 0)
        |ORDER BY t""".stripMargin)
    // the analyzed plan (subquery still an expression) must NOT prune
    val analyzed: LogicalPlan = df.queryExecution.analyzed
    val after = WdsPayloadPrune(analyzed)
    assert(after.toString == analyzed.toString,
      "correlated whole-map use must block pruning of the outer scan")
    // end-to-end: every sample's fat bin survives the value predicate
    assert(df.collect().length == 6)
  }

  test("to_dict (map_filter literal keep-set) prunes to the keep-set") {
    import graft.wds.SampleOps._
    implicit val enc: org.apache.spark.sql.Encoder[graft.wds.Sample] =
      org.apache.spark.sql.Encoders.product[graft.wds.Sample]
    val ds = spark.read.format("wds").load(tar)
      .as[graft.wds.Sample].toDict("txt")
    val p = planStr(ds.toDF())
    assert(p.contains("payload_select=[*.txt]"), p)
    val got = ds.collect()
    assert(got.length == 6)
    assert(got.flatMap(_.entries.keys).toSet == Set("txt"))
    assert(got.filter(_.entries.contains("txt"))
      .forall(s => new String(s.entries("txt"), "UTF-8").startsWith("text ")))
    // multi-alternative keep-set: both keys' globs
    val both = spark.read.format("wds").load(tar)
      .as[graft.wds.Sample].toDict("txt;bin")
    assert(planStr(both.toDF())
      .contains("payload_select=[*.bin,*.txt]"), planStr(both.toDF()))
    assert(both.collect().filter(_.entries.contains("bin"))
      .forall(_.entries("bin").length == (1 << 20)))
  }

  test("map_filter whose lambda touches the VALUE bails") {
    // predicate over a blanked payload could change which keys
    // survive — must not prune
    val df = spark.read.format("wds").load(tar)
      .select(map_filter(col("entries"),
        (k, v) => k.isin("txt") && length(v) > 0).as("e"))
    assert(!planStr(df).contains("payload_select"), planStr(df))
    assert(df.collect().count(_.getMap[String, Array[Byte]](0)
      .contains("txt")) == 5)
  }

  test("pre-pushdown wiring (injectOptimizerRule shape): the " +
      "DataSourceV2Relation's read options are rewritten") {
    // register() rides extraOptimizations (post-pushdown,
    // DataSourceV2ScanRelation); a cluster session built with
    // spark.sql.extensions=graft.GraftExtensions hits the rule in the
    // operator batch, where the plan still holds DataSourceV2Relation —
    // pin that branch directly on the analyzed (un-optimized) plan
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    val analyzed = spark.read.format("wds").load(tar)
      .select(element_at(col("entries"), "txt").as("t"))
      .queryExecution.analyzed
    assert(analyzed.collectFirst {
      case r: DataSourceV2Relation => r }.nonEmpty, analyzed.toString)
    val rewritten = WdsPayloadPrune(analyzed)
    val rel = rewritten.collectFirst {
      case r: DataSourceV2Relation => r }.get
    assert(rel.options.get("payload_select") == "*.txt", rel.options)
    // negative: entries at the root blocks the pre-pushdown branch too
    val bare = spark.read.format("wds").load(tar)
      .select(col("entries")).queryExecution.analyzed
    val relBare = WdsPayloadPrune(bare).collectFirst {
      case r: DataSourceV2Relation => r }.get
    assert(relBare.options.get("payload_select") == null)
  }

  test("interleave fixture: dotted keys prune with *-K + *.K globs, " +
      "values exact") {
    val dir = java.nio.file.Files.createTempDirectory("wppi").toString
    val out = new java.io.FileOutputStream(s"$dir/ishard.tar")
    val tw = new graft.wds.TarIO.TarWriter(out)
    val fat = Array.fill[Byte](1 << 20)(3)
    (0 until 4).foreach { i =>
      // raw interleave layout: P.json then P-<i>.jpg frames (the
      // writer names entries `<key>.<suffix>`, so per-entry writes
      // with dashed keys produce the reference's on-tar shape); the
      // reader folds P-0.jpg into P's sample as key 0.jpg
      tw.write(f"$i%06d", Map("json" -> s"""{"i":$i}""".getBytes("UTF-8"))): Unit
      tw.write(f"$i%06d-0", Map("jpg" -> s"frame0 of $i".getBytes("UTF-8"))): Unit
      tw.write(f"$i%06d-1", Map("jpg" -> fat)): Unit
    }
    tw.close()
    val path = s"$dir/ishard.tar"
    // frame-0-only sweep: dotted key 0.jpg → *.0.jpg,*-0.jpg
    val f0 = spark.read.format("wds").load(path)
      .select(col("key"),
        element_at(col("entries"), "0.jpg").cast("string").as("f"))
      .orderBy("key")
    assert(planStr(f0).contains("payload_select=[*.0.jpg,*-0.jpg]"),
      planStr(f0))
    val rows = f0.collect()
    assert(rows.length == 4)
    assert(rows.forall(r => r.getString(1) == s"frame0 of ${r.getString(0).toInt}"))
    // json-only sweep over the interleave shard: fat frames sought past
    val j = spark.read.format("wds").load(path)
      .select(element_at(col("entries"), "json").cast("string").as("j"))
    assert(planStr(j).contains("payload_select=[*.json]"), planStr(j))
    val b0 = fileBytesRead
    assert(j.collect().count(_.getString(0) != null) == 4)
    val jb = fileBytesRead - b0
    val b1 = fileBytesRead
    assert(spark.read.format("wds").option("select", "*").load(path)
      .select(element_at(col("entries"), "json").as("j"))
      .collect().length == 4)
    val full = fileBytesRead - b1
    assert(jb * 3 < full, s"json sweep moved $jb of $full unpruned bytes")
  }
}
