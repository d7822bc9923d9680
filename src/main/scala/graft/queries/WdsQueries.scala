package graft.queries

import java.nio.file.Files

import graft.{QueryDef, QueryRegistry, Tables}
import graft.index.CheckStage
import graft.multimodal.MediaColumns
import graft.pack.PackStage
import graft.streaming.EventStreams
import graft.tokenize.TokenizeStage
import graft.wds.{MultiShardSample, Sample, WdsReader}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The WebDataset pipeline + streaming + multimodal surfaces exposed as
  * driver-checkable queries. The tar stages drive real shard files
  * through a scratch directory (write → read-back → aggregate), so the
  * whole E1/E2/E3 spine executes inside the correctness gate; outputs
  * project only run-invariant columns (counts, token totals — never
  * scratch paths), keeping results deterministic.
  *
  * The streaming query has a DuckDB oracle: Complete-mode windowed
  * aggregation over the bounded event stream must equal the batch
  * tumbling-window query — exactly-once semantics made visible.
  */
object WdsQueries extends QueryRegistry {

  /** Scratch directory for shard round-trips, deleted on JVM exit (the
    * query result is lazy, so eager cleanup would race evaluation).
    * ONE shared shutdown hook drains a registry — a hook Thread per
    * invocation would grow without bound in a long bench/gate loop. */
  private val scratchDirs =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[java.nio.file.Path]())
  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    scratchDirs.forEach(d => rm(d.toFile))
  }))
  /** Every returned path carries an explicit scheme so nothing in the
    * gate spine silently resolves against fs.defaultFS: the default is
    * a file:-scheme URI under java.io.tmpdir (deleted on JVM exit), and
    * -Dgraft.scratch.root=hdfs://…/s3a://… points the SAME gate queries
    * at a shared store for cluster runs (cleanup is then the store's
    * TTL policy, not a driver shutdown hook). */
  private[graft] def scratchDir(prefix: String): String =
    sys.props.get("graft.scratch.root") match {
      case Some(root) =>
        val name = prefix + "-" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        new org.apache.hadoop.fs.Path(root, name).toString
      case None =>
        val dir = Files.createTempDirectory(prefix)
        scratchDirs.add(dir)
        dir.toUri.toString
    }

  /** documents → pack-stage metadata (deterministic fake video paths;
    * text as caption). */
  private def docMeta(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .select(
        format_string("videos/%09d.mp4", col("doc_id")).as("video_path"),
        col("text").as("value"))

  /** Shared oracle scaffolding: the pack stage assigns file_idx by the
    * global (video_path, value) order, which for `docMeta` is doc_id
    * order — so sample keys and aligned-chunk shard sizes are pure SQL
    * over `documents`. */
  private val RnCte =
    "(SELECT row_number() OVER (ORDER BY doc_id) AS rn FROM documents) t"
  private val KeyExpr = "printf('%09d', rn - 1)"

  /** E1 as a query: pack documents into aligned 100-sample tars; per-tar
    * counts are the exact ceil-chunk of the global order — hash-checked
    * against the q08-style chunk SQL. */
  /** Aligned-100-sample pack run → (shard, nsamples) — the fixture
    * BOTH wds01 and wds19 derive from (one recipe: their oracles both
    * assume numSegments=4 / samplesPerTar=100 / alignShards). */
  private def shardCounts(
      s: SparkSession, dir: String, prefix: String): DataFrame = {
    val out = scratchDir(prefix)
    val info = PackStage.run(docMeta(s, dir), out,
      PackStage.PackOptions(numSegments = 4, samplesPerTar = 100,
        alignShards = true))
    info.select(
      col("partition").cast("int").as("shard"),
      col("nsamples"))
  }

  private def packStats(s: SparkSession, dir: String): DataFrame =
    shardCounts(s, dir, "graft_e1").orderBy(col("shard"))

  private val packStatsSql =
    s"""SELECT CAST(floor((rn - 1) / 100) AS INT) AS shard,
       | count(*) AS nsamples
       |FROM $RnCte GROUP BY 1 ORDER BY 1""".stripMargin

  /** Compaction target (samples per merged shard). */
  private val CompactTarget = 250L

  /** wds19: shard-compaction planner — the storage-maintenance op
    * (Delta OPTIMIZE / tar re-shard shape): fold the shard index in
    * numeric order, closing a merge group whenever adding the next
    * shard would exceed [[CompactTarget]] samples. Sequential by
    * design: wds sample keys are globally ordered across shards and a
    * compaction must preserve that order, so the plan is the same
    * greedy order-sensitive fold as the A5 packer — replayed by the
    * oracle as a recursive CTE (wds03's pattern). The fold runs on
    * the driver over the INDEX frame: #shards rows, the same
    * O(#files) metadata footprint as shard-url listing; executing the
    * plan (grouped read → merged write) is distributed and
    * spec-asserted to preserve the sample multiset. */
  private[graft] def planCompaction(
      shards: Seq[(Int, Long)], target: Long): Seq[(Int, Long, Int)] = {
    var grp = 0; var acc = 0L
    shards.sortBy(_._1).zipWithIndex.map { case ((shard, n), i) =>
      if (i > 0 && acc + n > target) { grp += 1; acc = n }
      else acc += n
      (shard, n, grp)
    }
  }

  private def compactionPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val shards = shardCounts(s, dir, "graft_e1cp")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    planCompaction(shards, CompactTarget)
      .toDF("shard", "nsamples", "group_id")
      .orderBy($"shard")
  }

  private val compactionPlanSql =
    s"""WITH RECURSIVE sh AS (
       |  SELECT CAST(floor((rn - 1) / 100) AS INT) AS shard,
       |    count(*) AS nsamples
       |  FROM $RnCte GROUP BY 1),
       |g AS (
       |  SELECT shard, nsamples, 0 AS group_id, nsamples AS acc
       |  FROM sh WHERE shard = 0
       |  UNION ALL
       |  SELECT s.shard, s.nsamples,
       |    CASE WHEN g.acc + s.nsamples > $CompactTarget
       |         THEN g.group_id + 1 ELSE g.group_id END,
       |    CASE WHEN g.acc + s.nsamples > $CompactTarget
       |         THEN s.nsamples ELSE g.acc + s.nsamples END
       |  FROM sh s JOIN g ON s.shard = g.shard + 1)
       |SELECT shard, nsamples, group_id FROM g ORDER BY shard""".stripMargin

  /** Loopback HTTP server for the `http:` scheme gate row: serves
    * `.tar` files under the scratch root (the `graft.scratch.root`
    * system property when set — where `scratchDir` actually writes —
    * else java.io.tmpdir) by absolute path, one per JVM, ephemeral
    * port. All its threads are daemon, so a finished gate JVM exits
    * without an explicit stop. Test harness only — a production
    * `http:` shard URL points at real object storage; the SCHEME path
    * through Gopen/Hadoop HttpFileSystem is what this exercises. */
  private[graft] lazy val httpFixturePort: Int = {
    // the JDK server spawns its HTTP-Dispatcher / idle-timeout threads
    // with the CREATING thread's daemon status — start it from a daemon
    // thread or a finished gate JVM never exits (main returns, the
    // non-daemon dispatcher keeps the process alive, the shutdown hook
    // that would stop it never fires)
    @volatile var port = 0
    val boot = new Thread(() => {
      val srv = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      val tmpRoot = java.nio.file.Paths.get(
        sys.props.getOrElse("graft.scratch.root",
          System.getProperty("java.io.tmpdir"))).toRealPath()
      srv.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
        val p = java.nio.file.Paths.get(ex.getRequestURI.getPath)
        val ok = p.toString.endsWith(".tar") &&
          java.nio.file.Files.isRegularFile(p) &&
          p.toRealPath().startsWith(tmpRoot)
        try {
          if (!ok) ex.sendResponseHeaders(404, -1)
          else {
            ex.sendResponseHeaders(200, java.nio.file.Files.size(p))
            java.nio.file.Files.copy(p, ex.getResponseBody): Unit
          }
        } finally ex.close()
      })
      srv.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8,
        r => { val t = new Thread(r, "graft-http-fixture")
               t.setDaemon(true); t }))
      srv.start()
      port = srv.getAddress.getPort
    }, "graft-http-fixture-boot")
    boot.setDaemon(true)
    boot.start()
    boot.join()
    require(port > 0, "http fixture server failed to start")
    port
  }

  /** wds22: the `http:` scheme end-to-end under the DSv2 path — every
    * shard's bytes arrive over HTTP GET through Hadoop's read-only
    * HttpFileSystem (the reference's `gopen_curl` transport,
    * `gopen.py:153-330`), served by a loopback fixture server. Same
    * per-sample oracle as the E1 spine. */
  private def httpPack(s: SparkSession, dir: String): DataFrame = {
    val out = scratchDir("graft_e1h")
    val info = PackStage.run(docMeta(s, dir), out,
      PackStage.PackOptions(numSegments = 4, samplesPerTar = 100,
        alignShards = true))
    val port = httpFixturePort
    val urls = numericShardUrls(info).map(u =>
      s"http://127.0.0.1:$port" + new java.net.URI(u).getPath)
    s.read.format("wds").load(urls: _*)
      .select(col("key"), size(map_keys(col("entries"))).as("n_entries"))
      .orderBy(col("key"))
  }

  /** wds21: the `pipe:` scheme end-to-end under the DSv2 path — every
    * shard's bytes arrive from a subprocess stdout stream (`pipe:cat
    * <shard>`; the reference's gopen shell-pipeline transport,
    * `gopen.py:153-330`: one command per shard, EOF-then-exit-status
    * check, SIGPIPE tolerated), never a seekable file. Same per-sample
    * oracle as the E1 spine: the subprocess transport must lose,
    * duplicate, or reorder nothing. */
  private def pipePack(s: SparkSession, dir: String): DataFrame = {
    val out = scratchDir("graft_e1p")
    val info = PackStage.run(docMeta(s, dir), out,
      PackStage.PackOptions(numSegments = 4, samplesPerTar = 100,
        alignShards = true))
    // half the shards go through the literal pipe: scheme; the other
    // half through the GOPEN_REWRITE hook (`gopen.py:351-364`): a
    // synthetic graftpipe:// scheme that ONLY the rewrite rule turns
    // into the real subprocess command at open time — one wrong or
    // unapplied rewrite loses those shards' samples and fails the hash
    System.setProperty("graft.gopen.rewrite",
      "^graftpipe://=pipe:cat /")
    val pipeUrls = numericShardUrls(info).zipWithIndex.map { case (u, i) =>
      val p = new java.net.URI(u).getPath
      if (i % 2 == 0) "pipe:cat " + p
      else "graftpipe://" + p.stripPrefix("/")
    }
    s.read.format("wds").load(pipeUrls: _*)
      .select(col("key"), size(map_keys(col("entries"))).as("n_entries"))
      .orderBy(col("key"))
  }

  /** wds20: compaction EXECUTOR — runs wds19's plan for real. Each
    * merge group's input shards are read back through the DSv2 path and
    * rewritten as ONE merged tar via `format("wds")`, preserving the
    * global sample-key order; the merged store is then re-indexed by a
    * second DSv2 read. Output is the post-compaction index (per merged
    * shard: sample count, key range, in-tar orderedness), which the
    * oracle recomputes from the pre-compaction chunk arithmetic — the
    * "post-index equals pre-index modulo shard map" contract. Scale
    * shape: the plan is O(#shards) driver metadata (the reference's
    * os.listdir footprint); the rewrite is one distributed job whose
    * unit of work is a merge group (the Delta OPTIMIZE bin-packing
    * shape) and samples never shuffle — each task streams its group's
    * tars into one output tar. */
  /** wds20's pack fixture, staged once per (JVM, sf dir) — the bench's
    * reps (and its min/median) then measure COMPACTION, not the fixture
    * build (round-7 verdict adjudication: the loaded-run 87s min was
    * fixture-building + contention, not the merge path). Stored as the
    * collected (partition, nsamples, url) index: O(#shards) driver
    * metadata, same footprint as the reference's `os.listdir`. */
  private val stagedCompactionInput =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, Long, String)]]()

  private def compactionInput(s: SparkSession,
      dir: String): Seq[(Int, Long, String)] =
    stagedCompactionInput.computeIfAbsent(dir, _ => {
      val out = scratchDir("graft_e1ce")
      val info = PackStage.run(docMeta(s, dir), out,
        PackStage.PackOptions(numSegments = 4, samplesPerTar = 100,
          alignShards = true))
      info.select(col("partition").cast("int"), col("nsamples"),
        col("url")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSeq
    })

  private def compactionExec(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = compactionInput(s, dir)
    val counts = idx.map(t => (t._1, t._2))
    val urlOf = idx.map(t => t._1 -> t._3).toMap
    val plan = planCompaction(counts, CompactTarget)
    val groups = plan.groupBy(_._3).toSeq.sortBy(_._1)
      .map { case (_, ss) => ss.sortBy(_._1).map(t => urlOf(t._1)) }
    val merged = scratchDir("graft_e1cm")
    // one partition per merge group, partitions in group order:
    // partitionId == group_id, so the writer's part-<partition>- naming
    // IS the shard map. Each task streams its group's tars into one
    // output tar. ONE parallelize over the group specs — the previous
    // per-group-DataFrame + RDD-union spelling paid a driver-side plan
    // per merge group, which at sf1 (200 groups) cost ~100s of the
    // query's 133s (SCALE.md round 8); task-side work is identical.
    graft.wds.WdsReader.readUrlGroups(s, groups).toDF()
      .write.format("wds").mode("append").save(merged)
    val mergedUrls = {
      val p = new org.apache.hadoop.fs.Path(merged)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getPath.toString).filter(_.endsWith(".tar"))
        .sorted.toSeq
    }
    val shardNo = "part-(\\d+)-".r
    s.read.format("wds").load(mergedUrls: _*)
      .select(col("url"), col("key"))
      .as[(String, String)]
      .mapPartitions { it =>
        // one scan partition == one merged tar; fold in tar order, so
        // orderedness is observed BEFORE any exchange can reorder rows
        var url: String = null; var prev: String = null
        var n = 0L; var ordered = true
        var lo: String = null; var hi: String = null
        it.foreach { case (u, k) =>
          url = u; n += 1
          if (prev != null && k <= prev) ordered = false
          prev = k
          if (lo == null || k < lo) lo = k
          if (hi == null || k > hi) hi = k
        }
        if (url == null) Iterator.empty
        else Iterator((url, n, ordered, lo, hi))
      }
      .map { case (u, n, ord, lo, hi) =>
        (shardNo.findFirstMatchIn(u).get.group(1).toInt, n,
          if (ord) 1 else 0, lo, hi)
      }
      .toDF("group_id", "n_samples", "in_order", "min_key", "max_key")
      .orderBy($"group_id")
  }

  private val compactionExecSql =
    s"""WITH RECURSIVE sh AS (
       |  SELECT CAST(floor((rn - 1) / 100) AS INT) AS shard,
       |    count(*) AS nsamples
       |  FROM $RnCte GROUP BY 1),
       |g AS (
       |  SELECT shard, nsamples, 0 AS group_id, nsamples AS acc
       |  FROM sh WHERE shard = 0
       |  UNION ALL
       |  SELECT s.shard, s.nsamples,
       |    CASE WHEN g.acc + s.nsamples > $CompactTarget
       |         THEN g.group_id + 1 ELSE g.group_id END,
       |    CASE WHEN g.acc + s.nsamples > $CompactTarget
       |         THEN s.nsamples ELSE g.acc + s.nsamples END
       |  FROM sh s JOIN g ON s.shard = g.shard + 1)
       |SELECT group_id, sum(nsamples)::BIGINT AS n_samples,
       |  1 AS in_order,
       |  printf('%09d', min(shard) * 100) AS min_key,
       |  printf('%09d', max(shard * 100 + nsamples) - 1) AS max_key
       |FROM g GROUP BY group_id ORDER BY group_id""".stripMargin

  /** Writer-info `url` column collected to the driver, lexicographic —
    * THE one helper for shard-url listings (same O(#files) driver
    * footprint as the reference's os.listdir). Use [[numericShardUrls]]
    * when unpadded shard numbers must order numerically. */
  private def shardUrls(info: DataFrame): Seq[String] =
    info.select(col("url")).collect()
      .map(_.getString(0)).toSeq.sorted

  /** Read shards back through the DSv2 path and project per-sample
    * columns (shared by the sampler-type gate queries). */
  private def readBack(s: SparkSession, info: DataFrame): DataFrame =
    s.read.format("wds").load(shardUrls(info): _*)

  /** Shard urls in NUMERIC shard order (string sort puts shard-10
    * before shard-2) — the tokenize/index queries' merge-group order. */
  private[graft] def numericShardUrls(info: DataFrame): Seq[String] = {
    val shardNo = "shard-(\\d+)-".r
    info.select(col("url")).collect().map(_.getString(0)).toSeq
      .sortBy(u => shardNo.findFirstMatchIn(u).get.group(1).toInt)
  }

  private def jsonCol = element_at(col("entries"), "json").cast("string")

  /** E1 per-sample oracle: every doc appears exactly once, with its
    * deterministic zero-padded key and the uniform sampler's
    * numSegments+1 entries — the E1 spine (zipWithIndex → tar write →
    * DSv2 read → interleave regroup) is hash-checked end-to-end. */
  private def packKeys(s: SparkSession, dir: String): DataFrame = {
    val out = scratchDir("graft_e1k")
    val info = PackStage.run(docMeta(s, dir), out,
      PackStage.PackOptions(numSegments = 4, samplesPerTar = 100,
        alignShards = true))
    readBack(s, info)
      .select(col("key"), size(map_keys(col("entries"))).as("n_entries"))
      .orderBy(col("key"))
  }

  private val packKeysSql =
    s"""SELECT $KeyExpr AS key, 5 AS n_entries
       |FROM $RnCte ORDER BY key""".stripMargin

  /** kf sampler end-to-end (I/P keyframe selection → combine → pack →
    * read-back): with the Fixed(50 frames, I-every-10) source the
    * sampler yields exactly 6 I-frames (5 keyframes + appended last) and
    * 18 P-fills of totalFrames=24 — counted back out of the written
    * prompt, hash-checked. */
  private def kfPack(s: SparkSession, dir: String): DataFrame = {
    val out = scratchDir("graft_kf")
    val info = PackStage.run(docMeta(s, dir), out,
      PackStage.PackOptions(
        samplerType = PackStage.SamplerType.Kf,
        frames = graft.pack.FrameSource.Fixed(count = 50),
        samplesPerTar = 100, alignShards = true))
    def tokCount(tok: String) =
      ((length(jsonCol) - length(regexp_replace(jsonCol, tok, ""))) /
        tok.length).cast("int")
    readBack(s, info)
      .select(col("key"), size(map_keys(col("entries"))).as("n_entries"),
        tokCount("<Iimage>").as("n_iframes"),
        tokCount("<Pimage>").as("n_pframes"))
      .orderBy(col("key"))
  }

  private val kfPackSql =
    s"""SELECT $KeyExpr AS key, 25 AS n_entries,
       | 6 AS n_iframes, 18 AS n_pframes
       |FROM $RnCte ORDER BY key""".stripMargin

  /** wds23: the kf sampler over REAL H.264 — the reference's production
    * video path end-to-end (`pack/samplers.py:121-157` +
    * `pack/tools.py:101-140`): per-doc avc1 fixtures with a 3-frame
    * sync cadence in stss; the sampler probes the container index for
    * I-marks, DECODES each selected frame through the pure-JVM H.264
    * baseline decoder, appends the last frame to the I-run, P-fills,
    * sort-merges, packs to tars and reads back through DSv2. The
    * oracle replays the I/P arithmetic from the (n, syncEvery)
    * geometry; a decode failure anywhere drops rows and fails the
    * hash. */
  private def kfAvcPack(s: SparkSession, dir: String): DataFrame = {
    val out = scratchDir("graft_kfa")
    val docId = "([0-9]{9})".r
    val info = PackStage.run(docMeta(s, dir), out,
      PackStage.PackOptions(
        samplerType = PackStage.SamplerType.Kf,
        frames = graft.pack.FrameSource.Mp4Frames,
        samplesPerTar = 100, alignShards = true),
      mediaFor = path => {
        val id = docId.findFirstIn(path).get.toLong
        graft.multimodal.h264.H264Fixtures.video(id, (7 + id % 5).toInt,
          syncEvery = 3)
      })
    def tokCount(tok: String) =
      ((length(jsonCol) - length(regexp_replace(jsonCol, tok, ""))) /
        tok.length).cast("int")
    readBack(s, info)
      .select(col("key"), size(map_keys(col("entries"))).as("n_entries"),
        tokCount("<Iimage>").as("n_iframes"),
        tokCount("<Pimage>").as("n_pframes"))
      .orderBy(col("key"))
  }

  /** I-marks at 0,3,6,… → nsync = (n-1)/3 + 1; the I-run appends the
    * last frame unconditionally (duplicate index retained), the P-run
    * drops its last element; entries = all frames + json. */
  private val kfAvcPackSql =
    """WITH t AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
      |  FROM documents),
      |g AS (
      |  SELECT rn, 7 + doc_id % 5 AS n,
      |    (7 + doc_id % 5 - 1) // 3 + 1 AS nsync
      |  FROM t)
      |SELECT printf('%09d', rn - 1) AS key,
      |  (n + 1)::INT AS n_entries,
      |  (nsync + 1)::INT AS n_iframes,
      |  (n - nsync - 1)::INT AS n_pframes
      |FROM g ORDER BY key""".stripMargin

  /** wds24: the UNIFORM sampler over REAL H.264 with P-frames — the
    * reference's `un` production path end-to-end
    * (`pack/samplers.py:102-119` + `pack/dataset.py:102-108`): per-doc
    * GOP-structured avc1 fixtures (IDR every 4th frame; coded-P /
    * P_Skip / quarter-pel-MV P between), segment-center indices mostly
    * land on P-frames, so the pack can only produce pixels by seeking
    * to the sync sample and motion-compensating forward through the
    * pure-JVM P-slice decoder. Packs to tars, reads back through DSv2,
    * and fingerprints every packed frame's pixels; the oracle replays
    * the segment-center geometry (half-even rint) AND the full decode
    * arithmetic closed-form. A decode failure anywhere kills the rows;
    * a single wrong pixel shifts px_sum. */
  private def unAvcPack(s: SparkSession, dir: String): DataFrame = {
    val out = scratchDir("graft_una")
    val docId = "([0-9]{9})".r
    val info = PackStage.run(docMeta(s, dir), out,
      PackStage.PackOptions(
        samplerType = PackStage.SamplerType.Uniform,
        frames = graft.pack.FrameSource.Mp4Frames,
        samplesPerTar = 100, alignShards = true),
      mediaFor = path => {
        val id = docId.findFirstIn(path).get.toLong
        graft.multimodal.h264.H264Fixtures.videoGop(id, (9 + id % 4).toInt)
      })
    val pxSum = udf { (m: Map[String, Array[Byte]]) =>
      m.iterator.collect { case (k, v) if k != "json" =>
        graft.wds.Codecs.decodeImage(v).data
          .foldLeft(0L)((a, b) => a + (b & 0xff))
      }.sum
    }
    readBack(s, info)
      .select(col("key"),
        size(map_keys(col("entries"))).as("n_entries"),
        pxSum(col("entries")).as("px_sum"))
      .orderBy(col("key"))
  }

  /** Geometry: centers_i = rint_half_even(i·(n−1)/16) for i in 0..15
    * (startIdx 0, segSize/2 < 0.5 so the floor drops it). Pixels: the
    * mm16 closed form per selected frame, summed over R+G+B and the 16
    * frames. */
  private val unAvcPackSql =
    """WITH t AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
      |  FROM documents),
      |g AS (
      |  SELECT rn, doc_id AS d, (9 + doc_id % 4)::INT AS n,
      |    (16 + doc_id % 24)::INT AS qp
      |  FROM t),
      |centers AS (
      |  SELECT rn, d, n, qp,
      |    CASE WHEN (i*(n-1)) % 16 > 8 THEN (i*(n-1)) // 16 + 1
      |         WHEN (i*(n-1)) % 16 < 8 THEN (i*(n-1)) // 16
      |         ELSE (i*(n-1)) // 16 + ((i*(n-1)) // 16) % 2
      |    END::INT AS f
      |  FROM g CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) ii),
      |q AS (
      |  SELECT rn, d, f, qp, (f % 4)::INT AS g4, (f - f % 4)::INT AS fi,
      |    [10,11,13,14,16,18][qp % 6 + 1] AS v6,
      |    CASE WHEN qp < 30 THEN qp
      |         ELSE [29,30,31,32,32,33,34,34,35,35][qp - 29] END AS qpc
      |  FROM centers),
      |q2 AS (
      |  SELECT *, [10,11,13,14,16,18][qpc % 6 + 1] AS vc,
      |    (1 + (d + fi) % 5)::INT AS ly,
      |    ((d + fi) % 3)::INT AS lcb,
      |    ((d + 2*fi) % 3)::INT AS lcr,
      |    (1 + d % 2)::INT AS lp
      |  FROM q),
      |uv AS (
      |  SELECT rn, d, f,
      |    GREATEST(0, LEAST(255,
      |      (CASE WHEN qp >= 36 THEN ly * v6
      |            ELSE (ly*v6 + (1 << (5 - qp//6))) // (1 << (6 - qp//6))
      |       END + 32) // 64 + 128
      |      + CASE WHEN g4 = 0 THEN 0
      |             ELSE (lp * v6 * (1 << (qp//6)) + 32) // 64 END)) AS yv,
      |    GREATEST(0, LEAST(255, 128 +
      |      ((lcb*vc*(1 << (qpc//6))) // 32 + 32) // 64)) - 128 AS u,
      |    GREATEST(0, LEAST(255, 128 +
      |      ((lcr*vc*(1 << (qpc//6))) // 32 + 32) // 64)) - 128 AS v
      |  FROM q2),
      |px AS (
      |  SELECT rn,
      |    sum(256 * (
      |      GREATEST(0, LEAST(255,
      |        yv + floor((91881*v + 32768) / 65536.0)::INT)) +
      |      GREATEST(0, LEAST(255,
      |        yv - floor((22554*u + 46802*v + 32768) / 65536.0)::INT)) +
      |      GREATEST(0, LEAST(255,
      |        yv + floor((116130*u + 32768) / 65536.0)::INT))
      |    ))::BIGINT AS px_sum
      |  FROM uv GROUP BY rn)
      |SELECT printf('%09d', rn - 1) AS key, 17 AS n_entries, px_sum
      |FROM px ORDER BY key""".stripMargin

  /** wds25: the UNIFORM sampler over REAL H.264 with B-FRAMES — the
    * `un` path when the corpus carries reordered streams: per-doc
    * avc1 fixtures with decode-order [IDR, P, B] triads displayed
    * [IDR, B, P] via ctts ([[graft.multimodal.h264.H264Fixtures
    * .videoB]]). Segment centers are DISPLAY indices, so the pack can
    * only produce the right pixels by mapping display→decode order,
    * walking the GOP in decode order, and resolving the non-reference
    * B's two POC-ordered lists. Same fingerprint contract as wds24. */
  private def unAvcBPack(s: SparkSession, dir: String): DataFrame = {
    val out = scratchDir("graft_unb")
    val docId = "([0-9]{9})".r
    val info = PackStage.run(docMeta(s, dir), out,
      PackStage.PackOptions(
        samplerType = PackStage.SamplerType.Uniform,
        frames = graft.pack.FrameSource.Mp4Frames,
        samplesPerTar = 100, alignShards = true),
      mediaFor = path => {
        val id = docId.findFirstIn(path).get.toLong
        val n = (9 + 3 * (id % 3)).toInt
        // rotation: every 5th doc carries EXPLICIT-WEIGHTED-BIPRED B
        // slices (same triad geometry, weighted pixels) so the un
        // sampler path exercises 8.4.2.3.2 end-to-end
        if (id % 5 == 2)
          graft.multimodal.h264.H264Fixtures.videoWeightedB(id, n)
        else graft.multimodal.h264.H264Fixtures.videoB(id, n)
      })
    val pxSum = udf { (m: Map[String, Array[Byte]]) =>
      m.iterator.collect { case (k, v) if k != "json" =>
        graft.wds.Codecs.decodeImage(v).data
          .foldLeft(0L)((a, b) => a + (b & 0xff))
      }.sum
    }
    readBack(s, info)
      .select(col("key"),
        size(map_keys(col("entries"))).as("n_entries"),
        pxSum(col("entries")).as("px_sum"))
      .orderBy(col("key"))
  }

  /** Geometry as wds24 (half-even rint segment centers over DISPLAY
    * indices); pixels are videoB's closed forms for most docs (chroma
    * 128 → every channel yv → 3·256·yv per frame) and videoWeightedB's
    * for the d%5==2 rotation (explicit bipred weights, live chroma →
    * full BT.601 per channel). */
  private val unAvcBPackSql =
    """WITH t AS (
      |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
      |  FROM documents),
      |g AS (
      |  SELECT rn, doc_id AS d, (9 + 3 * (doc_id % 3))::INT AS n,
      |    (16 + doc_id % 24)::INT AS qp
      |  FROM t),
      |centers AS (
      |  SELECT rn, d, n, qp,
      |    CASE WHEN (i*(n-1)) % 16 > 8 THEN (i*(n-1)) // 16 + 1
      |         WHEN (i*(n-1)) % 16 < 8 THEN (i*(n-1)) // 16
      |         ELSE (i*(n-1)) // 16 + ((i*(n-1)) // 16) % 2
      |    END::INT AS f
      |  FROM g CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) ii),
      |q AS (
      |  SELECT rn, d, f, qp, (f % 3)::INT AS pos, (f // 3)::INT AS tt,
      |    [10,11,13,14,16,18][qp % 6 + 1] AS v6,
      |    (20 + d % 25)::INT AS w0y, (d % 11 - 5)::INT AS o0y,
      |    (20 + (3*d) % 25)::INT AS w1y, ((2*d) % 11 - 5)::INT AS o1y,
      |    (56 + d % 16)::INT AS w0cb, (d % 7 - 3)::INT AS o0cb,
      |    (56 + (2*d) % 16)::INT AS w0cr, (d % 5 - 2)::INT AS o0cr,
      |    (56 + (3*d) % 16)::INT AS w1cb, ((2*d) % 7 - 3)::INT AS o1cb,
      |    (56 + (5*d) % 16)::INT AS w1cr, ((3*d) % 5 - 2)::INT AS o1cr
      |  FROM centers),
      |q2 AS (
      |  SELECT *,
      |    GREATEST(0, LEAST(255, 128 +
      |      (CASE WHEN qp >= 36 THEN (1 + (d + 3*tt) % 5) * v6
      |            ELSE ((1 + (d + 3*tt) % 5) * v6 + (1 << (5 - qp//6)))
      |                 // (1 << (6 - qp//6)) END + 32) // 64)) AS ia,
      |    (16 + (d * 37 + 3*tt * 19) % 224)::INT AS vb
      |  FROM q),
      |uv AS (
      |  SELECT rn,
      |    CASE WHEN d % 5 <> 2 THEN
      |      CASE WHEN pos = 0 THEN ia
      |           WHEN pos = 2 THEN vb
      |           WHEN tt % 4 = 0 THEN ia
      |           WHEN tt % 4 = 1 THEN vb
      |           ELSE (ia + vb + 1) // 2 END
      |    ELSE
      |      CASE WHEN pos = 0 THEN ia
      |           WHEN pos = 2 THEN vb
      |           WHEN tt % 3 = 0 THEN GREATEST(0, LEAST(255,
      |             (ia*w0y + vb*w1y + 32) // 64 + floor((o0y+o1y+1) / 2.0)::INT))
      |           WHEN tt % 3 = 1 THEN GREATEST(0, LEAST(255,
      |             (ia*w0y + 16) // 32 + o0y))
      |           ELSE GREATEST(0, LEAST(255,
      |             (vb*w1y + 16) // 32 + o1y)) END
      |    END AS yv,
      |    CASE WHEN d % 5 = 2 AND pos = 1 THEN
      |      (CASE WHEN tt % 3 = 0 THEN GREATEST(0, LEAST(255,
      |              (128*w0cb + 128*w1cb + 64) // 128 + floor((o0cb+o1cb+1) / 2.0)::INT))
      |            WHEN tt % 3 = 1 THEN GREATEST(0, LEAST(255,
      |              (128*w0cb + 32) // 64 + o0cb))
      |            ELSE GREATEST(0, LEAST(255,
      |              (128*w1cb + 32) // 64 + o1cb)) END) - 128
      |    ELSE 0 END AS u,
      |    CASE WHEN d % 5 = 2 AND pos = 1 THEN
      |      (CASE WHEN tt % 3 = 0 THEN GREATEST(0, LEAST(255,
      |              (128*w0cr + 128*w1cr + 64) // 128 + floor((o0cr+o1cr+1) / 2.0)::INT))
      |            WHEN tt % 3 = 1 THEN GREATEST(0, LEAST(255,
      |              (128*w0cr + 32) // 64 + o0cr))
      |            ELSE GREATEST(0, LEAST(255,
      |              (128*w1cr + 32) // 64 + o1cr)) END) - 128
      |    ELSE 0 END AS v
      |  FROM q2),
      |px AS (
      |  SELECT rn, sum(256 * (
      |    GREATEST(0, LEAST(255, yv + floor((91881*v + 32768) / 65536.0)::INT))
      |    + GREATEST(0, LEAST(255, yv - floor((22554*u + 46802*v + 32768) / 65536.0)::INT))
      |    + GREATEST(0, LEAST(255, yv + floor((116130*u + 32768) / 65536.0)::INT))
      |    ))::BIGINT AS px_sum
      |  FROM uv GROUP BY rn)
      |SELECT printf('%09d', rn - 1) AS key, 17 AS n_entries, px_sum
      |FROM px ORDER BY key""".stripMargin

  /** video_interleave sampler: two clips per record → sibling mp4
    * entries regrouped under the json on read-back. */
  private def interleavePack(s: SparkSession, dir: String): DataFrame = {
    val meta = Tables(s, dir).documents.select(
      format_string("videos/%09d-a.mp4", col("doc_id")).as("video_path"),
      col("text").as("value"),
      array(format_string("videos/%09d-a.mp4", col("doc_id")),
        format_string("videos/%09d-b.mp4", col("doc_id"))).as("media_paths"))
    val out = scratchDir("graft_il")
    val info = PackStage.run(meta, out,
      PackStage.PackOptions(
        samplerType = PackStage.SamplerType.Interleave,
        samplesPerTar = 100, alignShards = true))
    readBack(s, info)
      .select(col("key"), size(map_keys(col("entries"))).as("n_entries"),
        get_json_object(jsonCol, "$.videos[1]").as("second_clip"))
      .orderBy(col("key"))
  }

  private val interleavePackSql =
    s"""SELECT $KeyExpr AS key, 3 AS n_entries,
       | printf('%09d-1', rn - 1) AS second_clip
       |FROM $RnCte ORDER BY key""".stripMargin

  /** video_sft sampler: QA-list metadata → videochat2 conversation with
    * the <video> token on the first human turn. */
  private def sftPack(s: SparkSession, dir: String): DataFrame = {
    val meta = Tables(s, dir).documents.select(
      format_string("videos/%09d.mp4", col("doc_id")).as("video_path"),
      to_json(array(struct(
        substring(col("text"), 1, 20).as("q"),
        col("text").as("a")))).as("value"))
    val out = scratchDir("graft_sft")
    val info = PackStage.run(meta, out,
      PackStage.PackOptions(
        samplerType = PackStage.SamplerType.Sft,
        samplesPerTar = 100, alignShards = true))
    readBack(s, info)
      .select(col("key"), size(map_keys(col("entries"))).as("n_entries"),
        get_json_object(jsonCol, "$.conversations[0].value")
          .endsWith("<video>").cast("int").as("has_video_token"))
      .orderBy(col("key"))
  }

  private val sftPackSql =
    s"""SELECT $KeyExpr AS key, 2 AS n_entries, 1 AS has_video_token
       |FROM $RnCte ORDER BY key""".stripMargin

  /** merlin-s END-TO-END: documents → merlin interleave jsonl on disk →
    * `Loaders.loadMerlin` → black-background synthesis + image load, QA
    * transcript split into 2 QA pairs (the `<image>#ts#` question and
    * the appended summary question). */
  private def merlinPack(s: SparkSession, dir: String): DataFrame = {
    val metaDir = scratchDir("graft_merj")
    Tables(s, dir).documents.select(
      array(
        struct(format_string("images/%09d.jpg", col("doc_id"))
          .as("image_name")),
        struct(lit("Black background: 4, 3").as("image_name")))
        .as("image_info"),
      concat(lit("<image>#"), (col("doc_id") % 97).cast("string"),
        lit("# answer "), substring(col("text"), 1, 15),
        lit(" Summary: "), substring(col("text"), 1, 10)).as("text_list"))
      .write.mode("overwrite").json(metaDir)
    val meta = graft.pack.Loaders.loadMerlin(s, metaDir)
    val out = scratchDir("graft_mer")
    val info = PackStage.run(meta, out,
      PackStage.PackOptions(
        samplerType = PackStage.SamplerType.MerlinS,
        samplesPerTar = 100, alignShards = true))
    readBack(s, info)
      .select(col("key"), size(map_keys(col("entries"))).as("n_entries"),
        json_array_length(get_json_object(jsonCol, "$.conversations"))
          .as("n_turns"))
      .orderBy(col("key"))
  }

  private val merlinPackSql =
    s"""SELECT $KeyExpr AS key, 3 AS n_entries, 4 AS n_turns
       |FROM $RnCte ORDER BY key""".stripMargin

  /** unicontrol sampler: exactly (source, target) image pair with the
    * prompt carried through. */
  private def unicontrolPack(s: SparkSession, dir: String): DataFrame = {
    val meta = Tables(s, dir).documents.select(
      format_string("uni/src/%09d.png", col("doc_id")).as("video_path"),
      col("text").as("value"),
      array(format_string("uni/src/%09d.png", col("doc_id")),
        format_string("uni/tgt/%09d.png", col("doc_id"))).as("media_paths"))
    val out = scratchDir("graft_uc")
    val info = PackStage.run(meta, out,
      PackStage.PackOptions(
        samplerType = PackStage.SamplerType.Unicontrol,
        samplesPerTar = 100, alignShards = true))
    readBack(s, info)
      .select(col("key"), size(map_keys(col("entries"))).as("n_entries"),
        get_json_object(jsonCol, "$.source").as("source_name"),
        get_json_object(jsonCol, "$.target").as("target_name"))
      .orderBy(col("key"))
  }

  private val unicontrolPackSql =
    s"""SELECT $KeyExpr AS key, 3 AS n_entries,
       | printf('%09d-0', rn - 1) AS source_name,
       | printf('%09d-1', rn - 1) AS target_name
       |FROM $RnCte ORDER BY key""".stripMargin

  /** E1→read-back as a query: adjacency/interleave grouping over real
    * tar bytes; per-sample entry histogram. Every uniform-sampled doc
    * yields numSegments+1 entries, so the histogram is one oracle-known
    * row — the hash check proves the write→scan→regroup spine loses and
    * duplicates nothing. */
  private def roundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = scratchDir("graft_rt")
    val info = PackStage.run(docMeta(s, dir), out,
      PackStage.PackOptions(numSegments = 4, samplesPerTar = 100))
    // read back through the DataSource V2 path — format("wds") is what
    // the driver's gate exercises here
    readBack(s, info)
      .select(col("key"), size(map_keys(col("entries"))).as("n_entries"))
      .groupBy(col("n_entries")).agg(count(lit(1)).as("n_samples"))
      .orderBy(col("n_entries"))
  }

  /** E1→E2 as a query: tokenize + greedy 8k packing over ONE merge
    * group in global doc order (aligned chunks + numeric shard sort +
    * coalesce(1)), so every bin boundary is a pure function of the
    * per-doc token counts — and with the word-hash test tokenizer a
    * doc's count is 1034 + words (BOS + 4×258 image sentinels + words +
    * EOS). The oracle replays the greedy fold as a recursive CTE:
    * the A5 packer itself is hash-checked end-to-end. */
  private def tokenizePack(s: SparkSession, dir: String): DataFrame = {
    val packOut = scratchDir("graft_e1b")
    val tokOut = scratchDir("graft_e2")
    val info = PackStage.run(docMeta(s, dir), packOut,
      PackStage.PackOptions(numSegments = 4, samplesPerTar = 100,
        alignShards = true))
    val urls = numericShardUrls(info)
    val packed = WdsReader.readUrls(s, urls).coalesce(1)
    val tokInfo = TokenizeStage.run(packed, tokOut)
    val tokUrls = shardUrls(tokInfo)
    CheckStage.checked(WdsReader.readUrls(s, tokUrls))
      .select(col("key"), col("n_tokens"), col("n_images"))
      .orderBy(col("key"))
  }

  /** Greedy-fold replay: acc+toks>8000 starts a new bin; the flushed
    * bin takes the incoming doc's key — "<tarIdx>-<fileIdx>" under the
    * group's 100-doc aligned tars (the reference's cached_key,
    * `tokenize/main.py:159-169`); the final partial bin is dropped
    * (exact `TokenizeStage.greedyPack` semantics). */
  private val tokenizePackSql =
    """WITH RECURSIVE d AS (
      |  SELECT row_number() OVER (ORDER BY doc_id) AS rn,
      |    1034 + len(string_split(text, ' ')) AS toks
      |  FROM documents),
      |r(rn, acc, bin) AS (
      |  SELECT rn, toks, 0 FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.rn,
      |    CASE WHEN r.acc + d.toks > 8000 THEN d.toks
      |         ELSE r.acc + d.toks END,
      |    CASE WHEN r.acc + d.toks > 8000 THEN r.bin + 1 ELSE r.bin END
      |  FROM r JOIN d ON d.rn = r.rn + 1),
      |bins AS (
      |  SELECT bin, count(*) AS n_docs, sum(t.toks) AS sum_toks,
      |    min(r.rn) AS first_rn
      |  FROM r JOIN d t ON t.rn = r.rn GROUP BY bin),
      |mx AS (SELECT max(bin) AS mb FROM bins)
      |SELECT printf('%d-%d', (nxt.first_rn - 1) // 100,
      |    (nxt.first_rn - 1) % 100) AS key,
      |  (b.sum_toks - (b.n_docs - 1))::INT AS n_tokens,
      |  (4 * b.n_docs)::INT AS n_images
      |FROM bins b JOIN bins nxt ON nxt.bin = b.bin + 1, mx
      |WHERE b.bin < mx.mb
      |ORDER BY key""".stripMargin

  /** image sampler: one image under the sample's own key + videochat2
    * conversation from the QA-list value. */
  private def imagePack(s: SparkSession, dir: String): DataFrame = {
    val meta = Tables(s, dir).documents.select(
      format_string("imgs/%09d.jpg", col("doc_id")).as("video_path"),
      to_json(array(struct(
        substring(col("text"), 1, 12).as("q"),
        col("text").as("a")))).as("value"))
    val out = scratchDir("graft_img")
    val info = PackStage.run(meta, out,
      PackStage.PackOptions(
        samplerType = PackStage.SamplerType.Image,
        samplesPerTar = 100, alignShards = true))
    readBack(s, info)
      .select(col("key"), size(map_keys(col("entries"))).as("n_entries"),
        get_json_object(jsonCol, "$.conversations[0].value")
          .endsWith("<image>").cast("int").as("has_image_token"))
      .orderBy(col("key"))
  }

  private val imagePackSql =
    s"""SELECT $KeyExpr AS key, 2 AS n_entries, 1 AS has_image_token
       |FROM $RnCte ORDER BY key""".stripMargin

  /** merlin-un sampler: conversations metadata split into even-human
    * prompts / odd-gpt txts, multi-image fan-out. */
  private def merlinUnPack(s: SparkSession, dir: String): DataFrame = {
    val meta = Tables(s, dir).documents.select(
      format_string("mun/%09d", col("doc_id")).as("video_path"),
      to_json(array(
        struct(lit("human").as("from"),
          substring(col("text"), 1, 18).as("value")),
        struct(lit("gpt").as("from"), col("text").as("value"))))
        .as("value"),
      array(format_string("mun/%09d-x.jpg", col("doc_id")),
        format_string("mun/%09d-y.jpg", col("doc_id"))).as("media_paths"))
    val out = scratchDir("graft_mun")
    val info = PackStage.run(meta, out,
      PackStage.PackOptions(
        samplerType = PackStage.SamplerType.MerlinUn,
        samplesPerTar = 100, alignShards = true))
    readBack(s, info)
      .select(col("key"), size(map_keys(col("entries"))).as("n_entries"),
        json_array_length(get_json_object(jsonCol, "$.prompt"))
          .as("n_prompts"),
        json_array_length(get_json_object(jsonCol, "$.txt")).as("n_txts"))
      .orderBy(col("key"))
  }

  private val merlinUnPackSql =
    s"""SELECT $KeyExpr AS key, 3 AS n_entries, 1 AS n_prompts, 1 AS n_txts
       |FROM $RnCte ORDER BY key""".stripMargin

  /** E2 across ≥4 REAL merge groups (no coalesce(1)): aligned 125-doc
    * chunks → one DSv2 partition per shard → per-group greedy packing in
    * parallel. Output is per-group totals (bin/doc/token counts), which
    * are partition-invariant because each group's fold is sealed inside
    * its own partition — the parallel-packing correctness surface. The
    * group↔serial equivalence law is asserted in TokenizeMultiSpec, and
    * the oracle replays the greedy fold per 125-doc chunk (state resets
    * at group boundaries) — parallel packing is hash-checked. */
  private def tokenizeMulti(s: SparkSession, dir: String): DataFrame = {
    val packOut = scratchDir("graft_e1m")
    val tokOut = scratchDir("graft_e2m")
    val info = PackStage.run(docMeta(s, dir), packOut,
      PackStage.PackOptions(numSegments = 4, samplesPerTar = 125,
        alignShards = true))
    val urls = numericShardUrls(info)
    require(urls.length >= 4 || Tables(s, dir).documents.count() < 500,
      s"expected >=4 merge groups, got ${urls.length}")
    val samples = WdsReader.readUrls(s, urls) // 1 shard = 1 partition
    val tokInfo = TokenizeStage.run(samples, tokOut)
    val tokUrls = shardUrls(tokInfo)
    // group id comes from the OUTPUT SHARD NAME (shard_<group>-…), not
    // the sample key: keys are "<tarIdx within group>-<fileIdx>"
    // (reference cached_key semantics), run-local by design
    s.read.format("wds").load(tokUrls: _*)
      .select(regexp_extract(col("url"), "shard_(\\d+)-", 1)
          .cast("int").as("group"),
        json_array_length(get_json_object(jsonCol, "$.text")).as("n_docs"),
        json_array_length(get_json_object(jsonCol, "$.input_ids"))
          .as("n_tokens"))
      .groupBy(col("group"))
      .agg(count(lit(1)).as("n_bins"), sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("group"))
  }

  /** E3 as a query: strict invariant gate + shard index over freshly
    * built tokenized shards. Deterministic single-group build (as
    * wds03, but numSegments=2 ⇒ 518+words tokens/doc), so the bin
    * count the index reports is oracle-derivable by the same greedy
    * replay. */
  private def indexCheck(s: SparkSession, dir: String): DataFrame = {
    val packOut = scratchDir("graft_e1c")
    val tokOut = scratchDir("graft_e3")
    val info = PackStage.run(docMeta(s, dir), packOut,
      PackStage.PackOptions(numSegments = 2, samplesPerTar = 100,
        alignShards = true))
    val urls = numericShardUrls(info)
    val tokInfo = TokenizeStage.run(WdsReader.readUrls(s, urls).coalesce(1), tokOut)
    val tokUrls = shardUrls(tokInfo)
    CheckStage.index(WdsReader.readUrls(s, tokUrls), strict = true)
      .select(
        regexp_extract(col("url"), "([^/]+)\\.tar$", 1).as("shard"),
        col("nsamples"))
      .orderBy(col("shard"))
  }

  private val indexCheckSql =
    """WITH RECURSIVE d AS (
      |  SELECT row_number() OVER (ORDER BY doc_id) AS rn,
      |    518 + len(string_split(text, ' ')) AS toks
      |  FROM documents),
      |r(rn, acc, bin) AS (
      |  SELECT rn, toks, 0 FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.rn,
      |    CASE WHEN r.acc + d.toks > 8000 THEN d.toks
      |         ELSE r.acc + d.toks END,
      |    CASE WHEN r.acc + d.toks > 8000 THEN r.bin + 1 ELSE r.bin END
      |  FROM r JOIN d ON d.rn = r.rn + 1)
      |SELECT 'shard_0-000000' AS shard,
      |  (SELECT max(bin) FROM r)::BIGINT AS nsamples""".stripMargin

  /** Multi-shard sampling end-to-end (S2/S3/S4): two corpora packed to
    * 4 aligned tars each, combined by a YAML `MultiShardSample` spec —
    * corpusA `choose: 2` (without replacement), corpusB `resample: 3`
    * (with replacement) — at seed 17, then read and aggregated.
    * `Random(17)` deterministically selects A{1,3} and B{0,1,2}
    * (asserted in OpsExtraSpec so a scala-library RNG change fails
    * loudly); the oracle inlines those chunk indices, the same
    * driver-derived-literal pattern qs03 uses for its plane weights.
    * Corpus split (doc_id parity), per-corpus pack keys (rank within
    * corpus), and aligned chunk membership are all pure SQL. */
  private def multiShard(s: SparkSession, dir: String): DataFrame = {
    def corpus(parity: Int): String = {
      val out = scratchDir(s"graft_ms$parity")
      val meta = Tables(s, dir).documents
        .filter(col("doc_id") % 2 === parity)
        .select(
          format_string("videos/%09d.mp4", col("doc_id")).as("video_path"),
          col("text").as("value"))
      val n = meta.count()
      PackStage.run(meta, out, PackStage.PackOptions(
        samplerType = PackStage.SamplerType.VideoOnly,
        samplesPerTar = (n + 3) / 4, alignShards = true)).collect()
      out
    }
    val (outA, outB) = (corpus(0), corpus(1))
    val yaml =
      s"""datasets:
         |  - name: corpusA
         |    shards: $outA/shard-{0..3}-000000.tar
         |    choose: 2
         |  - name: corpusB
         |    shards: $outB/shard-{0..3}-000000.tar
         |    resample: 3
         |""".stripMargin
    MultiShardSample.read(s, yaml, seed = 17L).toDF()
      .select(col("key").cast("long").as("idx"),
        // which corpus a sample came from is recoverable from its url
        when(col("url").contains("graft_ms0"), lit("A")).otherwise("B")
          .as("corpus"))
      .groupBy(col("corpus"))
      .agg(count(lit(1)).as("n_samples"), sum(col("idx")).as("key_sum"))
      .orderBy(col("corpus"))
  }

  /** A{1,3} ∪ B{0,1,2} with chunk = ceil(corpus size / 4) — the seed-17
    * selection inlined (see multiShard scaladoc). */
  private val multiShardSql =
    """WITH a AS (
      |  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS idx
      |  FROM documents WHERE doc_id % 2 = 0),
      |b AS (
      |  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS idx
      |  FROM documents WHERE doc_id % 2 = 1),
      |na AS (SELECT ceil(count(*) / 4.0)::INT AS c FROM a),
      |nb AS (SELECT ceil(count(*) / 4.0)::INT AS c FROM b),
      |u AS (
      |  SELECT 'A' AS corpus, idx FROM a, na WHERE idx // c IN (1, 3)
      |  UNION ALL
      |  SELECT 'B' AS corpus, idx FROM b, nb WHERE idx // c IN (0, 1, 2))
      |SELECT corpus, count(*) AS n_samples, sum(idx)::BIGINT AS key_sum
      |FROM u GROUP BY corpus ORDER BY corpus""".stripMargin

  /** CBOR shard source end-to-end (S13): documents → one `.cbors`
    * stream per partition (RFC 8949 bytes via the pure-JVM encoder) →
    * [[graft.wds.CborReader]] (one shard per partition, __key__
    * convention) → integrity aggregate. n_samples/key-sum/text bytes
    * are pure functions of `documents`, hash-checked. */
  private def cborsRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.wds.Cbor
    import org.apache.hadoop.fs.Path
    val out = scratchDir("graft_cbors")
    // write through Hadoop FS (like the pack stage), not java.io — on a
    // real cluster executor-local java.io files never reach the driver's
    // listing; attempt-scoped tmp + rename keeps task retries safe
    val conf = new graft.wds.SerializableHadoopConf(
      s.sparkContext.hadoopConfiguration)
    val nShards = 8
    Tables(s, dir).documents.select(col("doc_id"), col("text"))
      .repartition(nShards, col("doc_id"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val tc = org.apache.spark.TaskContext.get()
        val pid = tc.partitionId()
        val dst = new Path(out, s"part-$pid.cbors")
        val tmp = new Path(out,
          s".part-$pid.cbors.inprogress-${tc.taskAttemptId()}")
        val fs = dst.getFileSystem(conf.value)
        val f = new java.io.BufferedOutputStream(fs.create(tmp, true))
        try it.foreach { r =>
          Cbor.encode(Cbor.CborMap(Vector(
            "__key__" -> f"${r.getLong(0)}%09d",
            "txt" -> r.getString(1))), f)
        } finally f.close()
        if (fs.exists(dst)) { fs.delete(dst, false); () }
        require(fs.rename(tmp, dst), s"rename $tmp -> $dst failed")
      }
    val fs = new Path(out).getFileSystem(s.sparkContext.hadoopConfiguration)
    val urls = fs.globStatus(new Path(out, "*.cbors"))
      .map(_.getPath.toString).toSeq.sorted
    graft.wds.CborReader.readUrls(s, urls).toDF()
      .select(col("key").cast("long").as("doc_id"),
        length(col("entries")("txt")).cast("long").as("txt_bytes"))
      .agg(count(lit(1)).as("n_samples"),
        sum(col("doc_id")).as("key_sum"),
        sum(col("txt_bytes")).as("txt_bytes"))
  }

  private val cborsRoundtripSql =
    """SELECT count(*) AS n_samples, sum(doc_id)::BIGINT AS key_sum,
      | sum(strlen(text))::BIGINT AS txt_bytes
      |FROM documents""".stripMargin

  /** wds26: TENSOR shard round-trip — the npy/msgpack rows of the
    * codec registry end-to-end (`autodecode.py:130-166` decode,
    * `writer.py:88-132` encode). Per document, an `<i8` numpy tensor
    * (`ten.npy`, length 3 + d%5, values closed-form in doc_id), an
    * npz of named members (`pack.npz`: the ids plus a DERIVED f8
    * squares array, so the zip path is value-pinned) and a msgpack
    * metadata map (`meta.mp`: element count + sum) are encoded
    * through [[graft.wds.Codecs.encode]], packed into tar shards by
    * the DSv2 writer, read back through `format("wds")`, and decoded
    * through the registry ([[graft.wds.Npy]] byte-parity is pinned
    * against numpy-written fixtures in NpySpec). The output row is
    * per-doc (element count, tensor sum, metadata-consistency flag) —
    * the oracle replays the closed forms, so a slip anywhere in the
    * header/buffer/varint paths flips a hash. Scale shape: encode and
    * decode both run task-locally on the doc-partitioned spine; only
    * tar bytes hit storage and only the per-doc aggregate row ever
    * crosses an exchange. */
  private def npyRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.wds.{Codecs, Msgpack, Npy, Sample}
    val out = scratchDir("graft_npy")
    val samples = Tables(s, dir).documents.select(col("doc_id"))
      .repartition(4, col("doc_id"))
      .as[Long]
      .map { d =>
        val n = (3 + d % 5).toInt
        val vals = Array.tabulate(n)(j => (d * 31 + j * 7) % 1000 - 250)
        val meta = Msgpack.MsgMap(Vector(
          "n" -> n.toLong, "s" -> vals.sum))
        // npz sibling: named members, one a DERIVED f8 array so the
        // zip path is pinned by values, not by copy-equality
        val npz = Vector(
          "ids" -> Npy.fromLongs(vals, Vector(n)),
          "sq" -> Npy.fromDoubles(
            vals.map(v => (v * v).toDouble), Vector(n)))
        Sample(f"$d%09d", "", Map(
          "ten.npy" -> Codecs.encode("npy",
            Npy.fromLongs(vals, Vector(n))),
          "pack.npz" -> Codecs.encode("npz", npz),
          "meta.mp" -> Codecs.encode("mp", meta)))
      }
    graft.wds.WdsWriter.write(samples, out,
      graft.wds.WdsWriter.WriterOptions(maxCount = 200)).collect()
    val urls = {
      val p = new org.apache.hadoop.fs.Path(out)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getPath.toString).filter(_.endsWith(".tar"))
        .sorted.toSeq
    }
    s.read.format("wds").load(urls: _*)
      .select(col("key"), col("entries"))
      .as[(String, Map[String, Array[Byte]])]
      .map { case (k, es) =>
        val ten = Codecs.decode("npy", es("ten.npy")) match {
          case Codecs.Decoded.Tensor(a) => a
          case other => throw new IllegalStateException(s"npy: $other")
        }
        val meta = Codecs.decode("mp", es("meta.mp")) match {
          case Codecs.Decoded.Packed(v) => Msgpack.toMap(v)
          case other => throw new IllegalStateException(s"mp: $other")
        }
        val npz = Codecs.decode("npz", es("pack.npz")) match {
          case Codecs.Decoded.TensorZip(entries) => entries.toMap
          case other => throw new IllegalStateException(s"npz: $other")
        }
        val sum = ten.toLongs.sum
        // squares stay integral, so the double sum is exact and
        // order-free — hashable against the oracle's closed form
        val sqSum = npz("sq").toDoubles.sum
        val npzOk = npz("ids").toLongs.sameElements(ten.toLongs)
        (k.toLong, ten.elements, sum,
          meta("n") == ten.elements && meta("s") == sum && npzOk,
          sqSum)
      }
      .toDF("doc_id", "n_elems", "ten_sum", "meta_ok", "sq_sum")
      .orderBy(col("doc_id"))
  }

  /** wds32: PICKLE round-trip through real shards — the reference's
    * `pyd`/`pickle` decode/encode rows (`autodecode.py:156-157`,
    * `writer.py:148`) over the plain-data subset the JVM codec
    * supports (object pickles stay the typed pth-adjudication error).
    * Per doc, a dict {doc_id, nw, caption, marks} pickles into a
    * `.pyd` entry (nested list + tuple + bytes exercise the container
    * opcodes), packs through the DSv2 writer, reads back, decodes via
    * the codec registry, and emits columns DuckDB derives from
    * `documents` alone — so the pickle wire (not just decode∘encode)
    * is value-gated. CPython conformance fixtures live in PickleSpec;
    * the index stage's `--pickle-index` artifact reuses the same
    * encoder. */
  private def pickleRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.wds.{Codecs, Pickle, Sample}
    val out = scratchDir("graft_pkl")
    val samples = Tables(s, dir).documents
      .select(col("doc_id"), col("text"))
      .repartition(4, col("doc_id"))
      .as[(Long, String)]
      .map { case (d, t) =>
        val words = t.split(" ", -1)
        val v = Pickle.Dict(Vector(
          "doc_id" -> d,
          "nw" -> words.length.toLong,
          "caption" -> words.take(3).mkString(" "),
          "marks" -> Vector(
            Pickle.Tup(Vector(d % 7, "m")),
            Array[Byte]((d % 251).toByte))))
        Sample(f"$d%09d", "", Map("pyd" -> Codecs.encode("pyd", v)))
      }
    graft.wds.WdsWriter.write(samples, out,
      graft.wds.WdsWriter.WriterOptions(maxCount = 200)).collect(): Unit
    val urls = {
      val p = new org.apache.hadoop.fs.Path(out)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getPath.toString).filter(_.endsWith(".tar"))
        .sorted.toSeq
    }
    s.read.format("wds").load(urls: _*)
      .select(col("key"), col("entries"))
      .as[(String, Map[String, Array[Byte]])]
      .map { case (k, es) =>
        val m = Codecs.decode("pyd", es("pyd")) match {
          case Codecs.Decoded.Packed(v) => Pickle.toMap(v)
          case other => throw new IllegalStateException(s"pyd: $other")
        }
        val marks = m("marks").asInstanceOf[Vector[Any]]
        val tup = marks(0).asInstanceOf[Pickle.Tup]
        val mark = marks(1).asInstanceOf[Array[Byte]](0)
        (m("doc_id").asInstanceOf[Long],
          m("nw").asInstanceOf[Long],
          m("caption").asInstanceOf[String],
          tup.items(0).asInstanceOf[Long],
          (mark & 0xff).toLong,
          k.toLong == m("doc_id") && tup.items(1) == "m")
      }
      .toDF("doc_id", "nw", "caption", "mod7", "mark", "ok")
      .orderBy(col("doc_id"))
  }

  private val pickleRoundtripSql =
    """SELECT doc_id,
      |  len(string_split(text, ' '))::BIGINT AS nw,
      |  array_to_string(string_split(text, ' ')[1:3], ' ') AS caption,
      |  (doc_id % 7)::BIGINT AS mod7,
      |  (doc_id % 251)::BIGINT AS mark,
      |  true AS ok
      |FROM documents ORDER BY doc_id""".stripMargin

  /** wds33: SAFETENSORS shard round-trip — the pure-structure
    * checkpoint/tensor format that replaces the adjudicated-out object
    * pickle `.pth` (see [[graft.wds.Safetensors]] scaladoc; the
    * reference reaches tensors through numpy/torch,
    * `autodecode.py:130-166`). Per doc, one `.safetensors` entry with
    * three tensors — `emb` (F32 of the wds26 closed-form values, exact
    * in f32), `half` (F16 of small ints, exact in f16) and `ids`
    * (I64) — plus a `__metadata__` doc stamp, encoded through the
    * codec registry, packed into tar shards by the DSv2 writer, read
    * back through `format("wds")`, decoded, and re-derived: the output
    * row is all closed-form in doc_id so the oracle value-gates the
    * whole wire (u64 header length, JSON offsets table, tile
    * validation, f16 bit conversion). Scale shape identical to wds26:
    * codec work is task-local on the doc-partitioned spine, only tar
    * bytes hit storage, only the per-doc row crosses an exchange. */
  private def safetensorsRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.wds.{Codecs, Safetensors, Sample}
    val out = scratchDir("graft_st")
    val samples = Tables(s, dir).documents.select(col("doc_id"))
      .repartition(4, col("doc_id"))
      .as[Long]
      .map { d =>
        val n = (3 + d % 5).toInt
        val vals = Array.tabulate(n)(j => (d * 31 + j * 7) % 1000 - 250)
        val halves = Array.tabulate(n)(j => ((d + j) % 256 - 128).toFloat)
        val tensors = Seq(
          "emb" -> Safetensors.fromFloats(vals.map(_.toFloat), Vector(n)),
          "half" -> Safetensors.fromHalves(halves, Vector(n)),
          "ids" -> Safetensors.fromLongs(vals, Vector(n)))
        // direct encode (not Codecs.encode) to carry __metadata__;
        // the read side still goes through the registry dispatch
        Sample(f"$d%09d", "", Map(
          "t.safetensors" ->
            Safetensors.encode(tensors, Map("doc" -> d.toString))))
      }
    graft.wds.WdsWriter.write(samples, out,
      graft.wds.WdsWriter.WriterOptions(maxCount = 200)).collect()
    val urls = {
      val p = new org.apache.hadoop.fs.Path(out)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getPath.toString).filter(_.endsWith(".tar"))
        .sorted.toSeq
    }
    s.read.format("wds").load(urls: _*)
      .select(col("key"), col("entries"))
      .as[(String, Map[String, Array[Byte]])]
      .map { case (k, es) =>
        val st = Codecs.decode("safetensors", es("t.safetensors")) match {
          case Codecs.Decoded.SafeT(v) => v
          case other => throw new IllegalStateException(s"st: $other")
        }
        val d = k.toLong
        val ids = st.toLongs("ids")
        // f32 and f16 carry exact integers at these magnitudes, so the
        // double sums are exact and order-free — hashable closed-form
        val embSum = st.toDoubles("emb").sum
        val halfSum = st.toDoubles("half").sum
        val ok = st.metadata == Map("doc" -> d.toString) &&
          st.names == Vector("emb", "half", "ids") &&
          st.toDoubles("emb").map(_.toLong).sameElements(ids)
        (d, ids.length.toLong, ids.sum, embSum, halfSum, ok)
      }
      .toDF("doc_id", "n_elems", "ids_sum", "emb_sum", "half_sum", "st_ok")
      .orderBy(col("doc_id"))
  }

  private val safetensorsRoundtripSql =
    """WITH n AS (
      |  SELECT doc_id, (3 + doc_id % 5)::BIGINT AS n FROM documents),
      |v AS (
      |  SELECT doc_id, n,
      |    unnest(generate_series(0, n::INT - 1)) AS j
      |  FROM n)
      |SELECT doc_id, n AS n_elems,
      |  sum((doc_id*31 + j*7) % 1000 - 250)::BIGINT AS ids_sum,
      |  sum((doc_id*31 + j*7) % 1000 - 250)::DOUBLE AS emb_sum,
      |  sum((doc_id + j) % 256 - 128)::DOUBLE AS half_sum,
      |  true AS st_ok
      |FROM v GROUP BY doc_id, n ORDER BY doc_id""".stripMargin

  /** wds34: SAFETENSORS EMBEDDING SHARDS → ANN — the codec in its
    * intended 100 TB role. Embedding stores ship as blocked tensor
    * files, not parquet rows; this row packs the `embeddings` table
    * into 64-vector blocks (one sample per block: `ids` I64[n] +
    * `emb` F32[n,d], the layout an embedding checkpoint uses), writes
    * them through the DSv2 wds writer, reads the shards back, decodes
    * block tensors task-locally, explodes to (vec_id, embedding) and
    * runs qs01's EXACT brute-force top-k over the tar-decoded vectors.
    * The oracle is qs01's own SQL over the parquet table — so the F32
    * wire must be BIT-EXACT through encode → tar → read → decode, or
    * a cosine flips a rank and the hash. Scale shape: block decode is
    * a narrow per-sample map (no shuffle); downstream ANN identical to
    * qs01 (queries broadcast, one ranking shuffle of (q_id, c_id,
    * cos) triples). */
  private def safetensorsAnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.wds.{Codecs, Safetensors, Sample}
    val out = scratchDir("graft_stann")
    val packed = Tables(s, dir).embeddings
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .groupByKey(_._1 / 64)
      .mapGroups { (block, it) =>
        val vs = it.toArray.sortBy(_._1)
        val n = vs.length
        val d = vs(0)._2.length
        Sample(f"$block%06d", "", Map(
          "block.safetensors" -> Safetensors.encode(Seq(
            "ids" -> Safetensors.fromLongs(vs.map(_._1), Vector(n)),
            "emb" -> Safetensors.fromFloats(vs.flatMap(_._2), Vector(n, d))))))
      }
    graft.wds.WdsWriter.write(packed, out,
      graft.wds.WdsWriter.WriterOptions(maxCount = 100)).collect()
    val urls = {
      val p = new org.apache.hadoop.fs.Path(out)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getPath.toString).filter(_.endsWith(".tar"))
        .sorted.toSeq
    }
    val decoded = s.read.format("wds").load(urls: _*)
      .select(col("entries"))
      .as[Map[String, Array[Byte]]]
      .flatMap { es =>
        val st = Codecs.decode("safetensors", es("block.safetensors")) match {
          case Codecs.Decoded.SafeT(v) => v
          case other => throw new IllegalStateException(s"st: $other")
        }
        val ids = st.toLongs("ids")
        val Vector(n, d) = st.info("emb").shape
        val fb = java.nio.ByteBuffer.wrap(st.data("emb"))
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).asFloatBuffer()
        (0 until n).iterator.map { i =>
          (ids(i), Array.tabulate(d)(j => fb.get(i * d + j)))
        }
      }
      .toDF("vec_id", "embedding")
    SimilarityQueries.bruteTopKFrom(decoded)
  }

  /** wds28: the tuple/dict projection vocabulary (P5 `to_tuple` with
    * `;` alternatives, P6 `to_dict` suffix filtering) driven through
    * REAL shards end-to-end — synthetic per-doc entries with
    * closed-form byte lengths are packed by the DSv2 writer, read
    * back, dict-filtered, then tuple-projected:
    *
    *  - `c.bin;a.txt` observes alternative DISPATCH: docs with the
    *    optional `c.bin` (doc_id % 3 == 0) pick its 5 marker bytes,
    *    the rest fall through to the text entry;
    *  - `z.meta;a.txt` observes the to_dict DROP: every sample had
    *    `z.meta` before the dict filter, so picking it would prove
    *    the filter didn't run — the gate pins the fall-through;
    *  - `b.json` pins the always-present path (missing would raise).
    *
    * Output lengths + post-dict entry counts are pure SQL over
    * `documents`. */
  private def tupleDictOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.wds.Sample
    import graft.wds.SampleOps._
    val out = scratchDir("graft_p56")
    val samples = Tables(s, dir).documents
      .select(col("doc_id"), col("text"), col("n_chars"))
      .repartition(4, col("doc_id"))
      .as[(Long, String, Long)]
      .map { case (d, t, n) =>
        val base = Map(
          "a.txt" -> t.getBytes("UTF-8"),
          "b.json" -> s"""{"n":$n}""".getBytes("UTF-8"),
          "z.meta" -> "ZMETA!!".getBytes("UTF-8"))
        val es =
          if (d % 3 == 0) base + ("c.bin" -> "CCCCC".getBytes("UTF-8"))
          else base
        Sample(f"$d%09d", "", es)
      }
    graft.wds.WdsWriter.write(samples, out,
      graft.wds.WdsWriter.WriterOptions(maxCount = 200)).collect()
    val urls = {
      val p = new org.apache.hadoop.fs.Path(out)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getPath.toString).filter(_.endsWith(".tar"))
        .sorted.toSeq
    }
    val dicted = graft.wds.WdsReader.readUrls(s, urls)
      .toDict("a.txt", "b.json", "c.bin")
    val nE = dicted.toDF()
      .select(col("key"), size(col("entries")).as("n_entries"))
    dicted.toTuple("c.bin;a.txt", "z.meta;a.txt", "b.json")
      .select(col("key"),
        length(col("c_bin")).as("pick1_len"),
        length(col("z_meta")).as("pick2_len"),
        length(col("b_json")).as("json_len"))
      .join(nE, "key")
      .orderBy(col("key"))
  }

  private val tupleDictOpsSql =
    """SELECT printf('%09d', doc_id) AS key,
      |  (CASE WHEN doc_id % 3 = 0 THEN 5
      |    ELSE strlen(text) END)::INT AS pick1_len,
      |  strlen(text)::INT AS pick2_len,
      |  strlen('{"n":' || n_chars || '}')::INT AS json_len,
      |  (CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END)::INT AS n_entries
      |FROM documents ORDER BY key""".stripMargin

  /** wds29: the whole-sample transform vocabulary (P2 `map` with
    * None-drop, P3 `map_dict`, W7 `repeat`) as a gated chain — the ops
    * q02/wds14 don't reach. Per doc: a two-entry sample; `mapSamples`
    * drops every 7th doc (the None-drop contract), `mapEntries`
    * byte-reverses the text entry (ASCII fixture, so the oracle's
    * string reverse is byte-identical), `repeated(2)` must yield
    * exactly two copies per surviving key. In-memory Dataset[Sample]
    * algebra by design (the tar spine is gated by wds02/wds14/wds28 —
    * here the operators themselves are under test). */
  private def sampleAlgebra(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.wds.Sample
    import graft.wds.SampleOps._
    val ds0 = Tables(s, dir).documents
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (d, t) =>
        Sample(f"$d%09d", "", Map(
          "t" -> t.getBytes("UTF-8"),
          "u" -> "AB".getBytes("UTF-8")))
      }
    ds0
      .mapSamples(sm => if (sm.key.toLong % 7 == 0) None else Some(sm))
      .mapEntries((k, v) => if (k == "t") v.reverse else v)
      .repeated(2)
      .toDF()
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_copies"),
        max(decode(element_at(col("entries"), lit("t")), "UTF-8"))
          .as("r_text"))
      .orderBy(col("key"))
  }

  private val sampleAlgebraSql =
    """SELECT printf('%09d', doc_id) AS key, 2::BIGINT AS n_copies,
      |  reverse(text) AS r_text
      |FROM documents WHERE doc_id % 7 <> 0 ORDER BY key""".stripMargin

  /** wds35: M2 RoundRobin + W6 slice as an ORACLE row (previously
    * unit-only): three key-ordered sources interleave round-robin
    * (rank within source, then source index — `SampleOps.
    * roundRobinWith`'s exact order) and the first 100 of the
    * interleave are kept. The kept SET pins the interleave order —
    * a wrong rank/source tiebreak changes which keys survive the
    * slice. Presentation re-sorts by key (the driver compare is
    * order-insensitive; the slice is where order matters). */
  private def roundRobinSlice(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.wds.Sample
    import graft.wds.SampleOps._
    def src(m: Long) = Tables(s, dir).documents
      .select(col("doc_id")).as[Long]
      .filter(d => d % 3 == m)
      .map(d => Sample(f"$d%09d", "", Map.empty[String, Array[Byte]]))
    src(0).roundRobinWith(src(1), src(2)).slice(100)
      .toDF().select(col("key")).orderBy(col("key"))
  }

  /** wds36: B4/B5 batched/unbatched + P15 valid_sample as an ORACLE
    * row (previously unit-only): docs become samples (doc_id % 11 == 0
    * gets an EMPTY entries map — the invalid shape `valid_sample`
    * drops), the survivors batch into 7-sample groups per partition
    * and unbatch again. The law under oracle: the roundtrip is the
    * identity on the valid set — every surviving key exactly once,
    * payload intact (batch composition is partition-dependent, so the
    * batches themselves are NOT asserted; the identity is). */
  private def batchRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.wds.Sample
    import graft.wds.SampleOps._
    val ds0 = Tables(s, dir).documents
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (d, t) =>
        Sample(f"$d%09d", "", if (d % 11 == 0)
          Map.empty[String, Array[Byte]]
        else Map("t" -> t.getBytes("UTF-8")))
      }
    val rt = ds0.validSamples.batched(7).transform(b =>
      ds0.unbatchedFrom(b))
    rt.toDF()
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"),
        max(length(element_at(col("entries"), lit("t"))))
          .as("t_len"))
      .orderBy(col("key"))
  }

  private val batchRoundtripSql =
    """SELECT printf('%09d', doc_id) AS key, 1::BIGINT AS n,
      |  octet_length(encode(text))::INT AS t_len
      |FROM documents WHERE doc_id % 11 <> 0 ORDER BY key""".stripMargin

  /** wds37: W7 repeat/with_epoch as an ORACLE row (previously
    * unit-only). Two laws under one hash: (a) `repeated(3)` is exact
    * 3× multiplicity PER KEY; (b) `withEpoch(2n+37)` obeys the
    * truncate-or-repeat length law — total rows = 2n+37, every key
    * present, per-key multiplicity ∈ {2, 3} with exactly 37 keys at 3
    * (Spark's global limit consumes union branches in partition order,
    * so the first two full copies survive whole and the third is cut;
    * WHICH keys land the extra copy is partition-layout-dependent, so
    * the epoch arm is pinned as aggregates, broadcast onto the per-key
    * repeat rows via a 1-row cross join — the qs03 scalar pattern). */
  private def epochRepeatLaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.wds.Sample
    import graft.wds.SampleOps._
    val ds0 = Tables(s, dir).documents
      .select(col("doc_id")).as[Long]
      .map(d => Sample(f"$d%09d", "", Map("t" -> Array[Byte](1))))
    val rep = ds0.repeated(3).toDF()
      .groupBy(col("key")).agg(count(lit(1)).as("n_rep3"))
    val n = ds0.count()
    val target = (2 * n + 37).toInt
    val epAgg = ds0.withEpoch(target).toDF()
      .groupBy(col("key")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("epoch_total"),
        count(lit(1)).as("epoch_keys"),
        sum(when(col("c") === 3, 1L).otherwise(0L)).as("epoch_thrice"),
        min(col("c")).as("epoch_min"), max(col("c")).as("epoch_max"))
    rep.crossJoin(epAgg).orderBy(col("key"))
  }

  private val epochRepeatLawSql =
    """WITH n AS (SELECT count(*) AS n FROM documents)
      |SELECT printf('%09d', doc_id) AS key, 3::BIGINT AS n_rep3,
      |  (2*n.n + 37)::BIGINT AS epoch_total, n.n::BIGINT AS epoch_keys,
      |  37::BIGINT AS epoch_thrice, 2::BIGINT AS epoch_min,
      |  3::BIGINT AS epoch_max
      |FROM documents, n ORDER BY key""".stripMargin

  /** wds38: B6/B7 caches + the S12 epoch recipe as an ORACLE row
    * (previously unit-only). The observable cache law is IDENTITY:
    * `cached` (MEMORY) feeding `epochs(2)` (DISK_ONLY persist + two
    * seeded per-epoch reshuffles — the download-through shard-cache
    * recipe) must read back the corpus bit-identically in BOTH epochs
    * — every key exactly once per epoch, payload length intact. A
    * cache that dropped, duplicated, or truncated rows on the second
    * pass breaks the hash. (That the second epoch avoids re-fetching
    * the source is a storage-layer property pinned by OpsExtraSpec;
    * the data law is what an oracle can see.) */
  private def epochCacheIdentity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.wds.Sample
    import graft.wds.SampleOps._
    val ds0 = Tables(s, dir).documents
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (d, t) =>
        Sample(f"$d%09d", "", Map("t" -> t.getBytes("UTF-8"))) }
    val (handle, eps) = ds0.cached.epochs(2, seed = 5L)
    val perEpoch = eps.zipWithIndex.map { case (e, i) =>
      e.toDF().select(col("key"),
        length(element_at(col("entries"), lit("t"))).as("t_len"),
        lit(i).as("epoch"))
    }.reduce(_ unionByName _)
    // `handle` stays persisted until session end: unpersisting here
    // would strip the storage level BEFORE the lazy query executes and
    // the epochs would re-read the source — exactly what this row
    // exists to exercise. The corpus is metadata-sized; callers that
    // own the session unpersist when training ends (the S12 contract).
    val _ = handle
    perEpoch.groupBy(col("key"))
      .agg(count(lit(1)).as("n_reads"),
        count_distinct(col("epoch")).as("n_epochs"),
        min(col("t_len")).as("t_min"), max(col("t_len")).as("t_len"))
      .orderBy(col("key"))
  }

  private val epochCacheIdentitySql =
    """SELECT printf('%09d', doc_id) AS key, 2::BIGINT AS n_reads,
      |  2::BIGINT AS n_epochs, octet_length(encode(text))::INT AS t_min,
      |  octet_length(encode(text))::INT AS t_len
      |FROM documents ORDER BY key""".stripMargin

  /** wds39: A3/A4 write-size metrics as an ORACLE row (previously
    * unit-only). Documents sorted by key write through `WdsWriter`
    * (maxCount = 50, one partition so the roll points are a pure
    * function of key order) and the returned ShardInfo index is the
    * result — plus each shard's ON-DISK byte size, so BOTH byte
    * metrics are pinned against closed-form tar arithmetic:
    *  - `nbytes` (A3/A4 payload metric) = Σ payload lengths of the
    *    shard's 50 docs;
    *  - `file_bytes` = Σ (512-byte header + payload padded to 512)
    *    + the two 512-byte EOF records — the ustar layout law (entry
    *    names are 13 chars, so no PAX extension headers participate).
    * A writer that rolled at the wrong sample, dropped an entry, or
    * padded wrongly breaks the hash. The collect is the bounded
    * writer-action pattern (10 ShardInfo rows at any sf). */
  private def shardSizeLaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.wds.{Sample, WdsWriter}
    val out = scratchDir("graft_sizes")
    val ds0 = Tables(s, dir).documents
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (d, t) =>
        Sample(f"$d%09d", "", Map("txt" -> t.getBytes("UTF-8"))) }
      .orderBy(col("key")).coalesce(1)
    val info = WdsWriter.write(ds0, out,
      WdsWriter.WriterOptions(maxCount = 50L))
    val rows = info.select(col("url"), col("nsamples"), col("nbytes"))
      .collect()
    val conf = s.sparkContext.hadoopConfiguration
    val sized = rows.map { r =>
      val p = new org.apache.hadoop.fs.Path(r.getString(0))
      val len = p.getFileSystem(conf).getFileStatus(p).getLen
      (r.getString(0).replaceAll(".*/", ""), r.getLong(1), r.getLong(2),
        len)
    }.toSeq
    sized.toDF("shard", "nsamples", "nbytes", "file_bytes")
      .orderBy(col("shard"))
  }

  private val shardSizeLawSql =
    """WITH d AS (
      |  SELECT row_number() OVER (ORDER BY printf('%09d', doc_id)) - 1
      |      AS rn,
      |    octet_length(encode(text)) AS len
      |  FROM documents)
      |SELECT printf('shard-00000-%06d.tar', rn // 50) AS shard,
      |  count(*)::BIGINT AS nsamples, sum(len)::BIGINT AS nbytes,
      |  (sum(512 + ((len + 511) // 512) * 512) + 1024)::BIGINT
      |    AS file_bytes
      |FROM d GROUP BY rn // 50 ORDER BY shard""".stripMargin

  /** wds40: B3 `rsample` + K7 inspection dump as an ORACLE row
    * (previously unit-only). Both ops are SEEDED Bernoulli samples —
    * deterministic in Spark but not replayable by a SQL oracle (the
    * RNG is Spark's XORShift, partition-seeded), so the row pins their
    * LAWS as data, the `meta_ok`-boolean pattern wds26 uses:
    *  - rsample(0.2): `rs_dup_free` (without-replacement — no key
    *    drawn twice) and `rs_in_bounds` (count within 5σ of the
    *    binomial mean — a real Bernoulli, not a constant or a slice);
    *  - inspectionSample(0.25) over synthesized tokenized samples:
    *    `dump_in_bounds` (same 5σ law) and `dump_wellformed` (every
    *    dump row's loss_tokens are exactly the mask-selected
    *    input_ids and gt_text is the joined text — the dump's parse
    *    wiring, checked row-by-row against the known fixture).
    * A 5σ miss on n=500 has probability < 1e-6 per arm; a broken
    * sampler (p misread, seed ignored upstream, dup draws) trips it
    * deterministically. */
  private def sampleLaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.wds.Sample
    import graft.wds.SampleOps._
    val docs = Tables(s, dir).documents
    val nTotal = docs.count()
    def sigma(p: Double) = math.sqrt(nTotal * p * (1 - p))
    // arm 1: rsample over key-only samples
    val ds0 = docs.select(col("doc_id")).as[Long]
      .map(d => Sample(f"$d%09d", "", Map("t" -> Array[Byte](1))))
    val rs = ds0.rsample(0.2, seed = 17L).toDF()
      .groupBy(col("key")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n"),
        coalesce(max(col("c")), lit(0L)).as("maxc")).head()
    val rsDupFree = rs.getLong(1) <= 1L
    val rsInBounds = math.abs(rs.getLong(0) - 0.2 * nTotal) <= 5 * sigma(0.2)
    // arm 2: inspection dump over synthesized tokenized-shard samples
    // (deterministic per-key json — no tar I/O needed to pin the dump)
    val tok = docs.select(col("doc_id")).as[Long].map { d =>
      val n = 5 + (d % 7).toInt
      val ids = (0 until n).map(i => (d * 13 + i) % 1000)
      val mask = (0 until n).map(_ % 2)
      val words = (0 until n).map(i => s"w${d}_$i")
      val json = s"""{"image":[],"input_ids":[${ids.mkString(",")}],""" +
        s""""loss_mask":[${mask.mkString(",")}],""" +
        s""""text":[${words.map("\"" + _ + "\"").mkString(",")}]}"""
      Sample(f"$d%09d", "", Map("json" -> json.getBytes("UTF-8")))
    }
    val dump = CheckStage.inspectionSample(tok, frac = 0.25, seed = 42L)
      .withColumn("d", col("key").cast("long"))
      .withColumn("n", lit(5) + (col("d") % 7).cast("int"))
      .select(
        (col("gt_text") === concat_ws(" ",
          transform(sequence(lit(0), col("n") - 1),
            i => concat(lit("w"), col("d"), lit("_"), i)))).as("gt_ok"),
        (col("loss_tokens") === filter(
          transform(sequence(lit(0), col("n") - 1),
            i => ((col("d") * 13 + i) % 1000).cast("int")),
          (_, i) => i % 2 === 1)).as("loss_ok"))
      .agg(count(lit(1)).as("n"),
        coalesce(min(col("gt_ok") && col("loss_ok")), lit(true))
          .as("ok")).head()
    val dumpInBounds =
      math.abs(dump.getLong(0) - 0.25 * nTotal) <= 5 * sigma(0.25)
    Seq((nTotal, rsDupFree, rsInBounds, dumpInBounds, dump.getBoolean(1)))
      .toDF("n_total", "rs_dup_free", "rs_in_bounds", "dump_in_bounds",
        "dump_wellformed")
  }

  private val sampleLawSql =
    """SELECT count(*)::BIGINT AS n_total, true AS rs_dup_free,
      |  true AS rs_in_bounds, true AS dump_in_bounds,
      |  true AS dump_wellformed
      |FROM documents""".stripMargin

  private val roundRobinSliceSql =
    """WITH s AS (
      |  SELECT printf('%09d', doc_id) AS key,
      |    (doc_id % 3)::INT AS src
      |  FROM documents),
      |r AS (
      |  SELECT key, src,
      |    row_number() OVER (PARTITION BY src ORDER BY key) AS rn
      |  FROM s),
      |topn AS (SELECT key FROM r ORDER BY rn, src LIMIT 100)
      |SELECT key FROM topn ORDER BY key""".stripMargin

  private val npyRoundtripSql =
    """WITH n AS (
      |  SELECT doc_id, (3 + doc_id % 5)::BIGINT AS n FROM documents),
      |v AS (
      |  SELECT doc_id, n,
      |    unnest(generate_series(0, n::INT - 1)) AS j
      |  FROM n)
      |SELECT doc_id, n AS n_elems,
      |  sum((doc_id*31 + j*7) % 1000 - 250)::BIGINT AS ten_sum,
      |  true AS meta_ok,
      |  sum(((doc_id*31 + j*7) % 1000 - 250)
      |      * ((doc_id*31 + j*7) % 1000 - 250))::DOUBLE AS sq_sum
      |FROM v GROUP BY doc_id, n ORDER BY doc_id""".stripMargin

  /** wds27: PACK OVER A WEIGHTED TWO-SOURCE MIX through the CLI
    * surface — S3's MultiShardSample YAML composed with the E1 pack
    * stage (`Pipeline --stage pack --mix-spec`), the way the reference
    * fleet mixes corpora before packing. Corpus A = even doc_ids split
    * across two metadata files by doc_id%4 with `choose: 1` (the
    * seed-17 selection picks the FIRST file — a0, doc_id%4==0 — the
    * same pick PipelineCliSpec pins); corpus B = odd doc_ids, both
    * files, unweighted; each source carries its own loader name and
    * media prefix. Synthetic media makes the packed mp4 bytes carry
    * the video path, so per-corpus provenance is observable in the
    * packed tars themselves: the output is per-corpus sample count,
    * doc-id sum, and caption char sum, replayed closed-form by the
    * oracle with the seed-17 choice inlined (the wds16 adjudication).
    * Scale shape: metadata plans are one per SELECTED file (driver
    * cost bounded by the spec, never rows); the pack itself is the
    * ordinary E1 distributed write. */
  private val stagedMixPack =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def mixPackStage(s: SparkSession, dir: String): String =
    stagedMixPack.computeIfAbsent(dir, _ => {
      val meta = scratchDir("graft_mix_meta")
      val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      for ((name, r) <- Seq(("a0", 0), ("a1", 2), ("b0", 1), ("b1", 3)))
        docs.filter(col("doc_id") % 4 === r)
          .select(format_string("%09d", col("doc_id")).as("YoutubeID"),
            lit("0").as("Start_timestamp"), lit("1").as("End_timestamp"),
            col("text").as("Caption"))
          .coalesce(1).write.mode("overwrite").json(s"$meta/$name")
      def partOf(sub: String): String = {
        val p = new org.apache.hadoop.fs.Path(s"$meta/$sub")
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.listStatus(p).map(_.getPath.toString)
          .filter(_.contains("part-")).head
      }
      val yaml =
        s"""datasets:
           |  - name: corpusA
           |    dataset: internvid
           |    prefix: va/
           |    shards: ${partOf("a0")}::${partOf("a1")}
           |    choose: 1
           |  - name: corpusB
           |    dataset: internvid
           |    prefix: vb/
           |    shards: ${partOf("b0")}::${partOf("b1")}
           |""".stripMargin
      val specPath = new org.apache.hadoop.fs.Path(meta, "mix.yaml")
      val specFs = specPath.getFileSystem(
        s.sparkContext.hadoopConfiguration)
      val specOut = specFs.create(specPath, true)
      try specOut.write(yaml.getBytes("UTF-8")) finally specOut.close()
      val out = scratchDir("graft_mix_pack")
      graft.Pipeline.run(s, Map(
        "stage" -> "pack", "mix-spec" -> specPath.toString,
        "type" -> "video-only", "save-path" -> out,
        "samples-per-tar" -> "200", "synthetic-media" -> "true"))
        .collect()
      out
    })

  private def mixedPack(s: SparkSession, dir: String): DataFrame = {
    val out = mixPackStage(s, dir)
    val p = new org.apache.hadoop.fs.Path(out)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val tars = fs.listStatus(p).map(_.getPath.toString)
      .filter(_.endsWith(".tar")).sorted.toSeq
    s.read.format("wds").load(tars: _*)
      .select(col("entries")("mp4").cast("string").as("path"),
        get_json_object(col("entries")("json").cast("string"),
          "$.caption").as("caption"))
      .select(regexp_extract(col("path"), "(\\d{9})_0_1", 1)
        .cast("long").as("doc_id"), col("caption"))
      .groupBy(when(col("doc_id") % 2 === 0, "A").otherwise("B")
        .as("corpus"))
      .agg(count(lit(1)).as("n_samples"),
        sum(col("doc_id")).as("doc_sum"),
        sum(length(col("caption"))).as("caption_chars"))
      .orderBy(col("corpus"))
  }

  private val mixedPackSql =
    """WITH sel AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE doc_id % 2 = 1 OR doc_id % 4 = 0)
      |SELECT CASE WHEN doc_id % 2 = 0 THEN 'A' ELSE 'B' END AS corpus,
      |  count(*) AS n_samples, sum(doc_id)::BIGINT AS doc_sum,
      |  sum(length(text))::BIGINT AS caption_chars
      |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin

  /** wds30: TOKENIZE OVER A TWO-SOURCE MIX through the CLI surface —
    * S3's MultiShardSample YAML composed with the E2 tokenize stage
    * (`Pipeline --stage tokenize --mix-spec`), the fleet workflow that
    * fed tokenize from tar-range slices across corpora
    * (`tokenize/main.py:224-227`: `all_files[start:end]` grouped by
    * `shard_size`). Corpus A = even doc_ids packed to THREE aligned
    * tars, corpus B = odd to TWO (fixed counts, so the spec's
    * GLOBAL SEEDED SHUFFLE — `shardlists.py:255-271`, the part of S3
    * the wds16/wds27 gates never exercise downstream — is the same
    * 5-element permutation at every fixture scale: seed 17 maps
    * [A0,A1,A2,B0,B1] to [A0,A2,B1,B0,A1], pinned in OpsExtraSpec so
    * an RNG change fails loudly). shard-size=3 merge groups over the
    * shuffled list are [A0,A2,B1] and [B0,A1] — BOTH straddle the
    * corpus boundary, the cross-corpus bin packing this gate exists
    * to pin. Output = wds11's per-group greedy bin profile; the
    * oracle replays rank → tar → shuffled position → group and the
    * 8k greedy fold from document ranks alone. */
  private def mixedTokenize(s: SparkSession, dir: String): DataFrame = {
    val tokOut = scratchDir("graft_mt_tok")
    def corpus(parity: Int, tars: Int): Seq[String] = {
      val out = scratchDir(s"graft_mt$parity")
      val meta = Tables(s, dir).documents
        .filter(col("doc_id") % 2 === parity)
        .select(
          format_string("videos/%09d.mp4", col("doc_id")).as("video_path"),
          col("text").as("value"))
      val n = meta.count()
      numericShardUrls(PackStage.run(meta, out, PackStage.PackOptions(
        numSegments = 4, samplesPerTar = (n + tars - 1) / tars,
        alignShards = true)))
    }
    val (urlsA, urlsB) = (corpus(0, 3), corpus(1, 2))
    val yaml =
      s"""datasets:
         |  - name: corpusA
         |    shards: ${urlsA.mkString("::")}
         |  - name: corpusB
         |    shards: ${urlsB.mkString("::")}
         |""".stripMargin
    val specPath = new org.apache.hadoop.fs.Path(
      scratchDir("graft_mt_spec"), "mix.yaml")
    val specFs = specPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val specOut = specFs.create(specPath, true)
    try specOut.write(yaml.getBytes("UTF-8")) finally specOut.close()
    val tokInfo = graft.Pipeline.run(s, Map(
      "stage" -> "tokenize", "mix-spec" -> specPath.toString,
      "shard-size" -> "3", "save-path" -> tokOut))
    val tokUrls = shardUrls(tokInfo)
    // group from the output shard name — keys are group-local
    // "<tarIdx>-<fileIdx>" (reference cached_key semantics)
    s.read.format("wds").load(tokUrls: _*)
      .select(regexp_extract(col("url"), "shard_(\\d+)-", 1)
          .cast("int").as("group"),
        json_array_length(get_json_object(jsonCol, "$.text")).as("n_docs"),
        json_array_length(get_json_object(jsonCol, "$.input_ids"))
          .as("n_tokens"))
      .groupBy(col("group"))
      .agg(count(lit(1)).as("n_bins"), sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("group"))
  }

  /** Per-parity rank → aligned tar (A: ceil(nA/3)-sized, B:
    * ceil(nB/2)) → url id [A0..A2,B0,B1] → seed-17 shuffled position
    * [0,2,4,3,1] → shard-size-3 merge group, then wds11's greedy fold
    * keyed on the MIXED group — docs order within a group by
    * (shuffled position, doc_id), which is exactly tar order in the
    * resolved list then pack key order. */
  private val mixedTokenizeSql =
    """WITH RECURSIVE ca AS (
      |  SELECT ceil(count(*) / 3.0)::INT AS c
      |  FROM documents WHERE doc_id % 2 = 0),
      |cb AS (
      |  SELECT ceil(count(*) / 2.0)::INT AS c
      |  FROM documents WHERE doc_id % 2 = 1),
      |d0 AS (
      |  SELECT doc_id, 1034 + len(string_split(text, ' ')) AS toks,
      |    CASE WHEN doc_id % 2 = 0
      |      THEN CAST(floor((row_number() OVER (
      |          PARTITION BY doc_id % 2 ORDER BY doc_id) - 1)
      |        / (SELECT c FROM ca)) AS INT)
      |      ELSE 3 + CAST(floor((row_number() OVER (
      |          PARTITION BY doc_id % 2 ORDER BY doc_id) - 1)
      |        / (SELECT c FROM cb)) AS INT)
      |    END AS u
      |  FROM documents),
      |d1 AS (
      |  SELECT doc_id, toks,
      |    CASE u WHEN 0 THEN 0 WHEN 1 THEN 4 WHEN 2 THEN 1
      |           WHEN 3 THEN 3 WHEN 4 THEN 2 END AS pos
      |  FROM d0),
      |d AS (
      |  SELECT row_number() OVER (ORDER BY pos, doc_id) AS rn,
      |    CAST(floor(pos / 3) AS INT) AS grp, toks
      |  FROM d1),
      |r(rn, grp, acc, bin) AS (
      |  SELECT rn, grp, toks, 0 FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.rn, d.grp,
      |    CASE WHEN d.grp <> r.grp THEN d.toks
      |         WHEN r.acc + d.toks > 8000 THEN d.toks
      |         ELSE r.acc + d.toks END,
      |    CASE WHEN d.grp <> r.grp THEN 0
      |         WHEN r.acc + d.toks > 8000 THEN r.bin + 1
      |         ELSE r.bin END
      |  FROM r JOIN d ON d.rn = r.rn + 1),
      |bins AS (
      |  SELECT r.grp, r.bin, count(*) AS n_docs, sum(t.toks) AS sum_toks
      |  FROM r JOIN d t ON t.rn = r.rn GROUP BY r.grp, r.bin),
      |mx AS (SELECT grp, max(bin) AS mb FROM bins GROUP BY grp)
      |SELECT b.grp AS "group", count(*) AS n_bins,
      |  sum(b.n_docs)::BIGINT AS n_docs,
      |  sum(b.sum_toks - (b.n_docs - 1))::BIGINT AS n_tokens
      |FROM bins b JOIN mx ON b.grp = mx.grp
      |WHERE b.bin < mx.mb
      |GROUP BY b.grp ORDER BY b.grp""".stripMargin

  /** wds31: THE CHAINED FLEET RUN — curate → pack → tokenize → check
    * as one workflow, with the tokenize stage split into TWO RESUMED
    * RANGES (`--start/--end`), the reference fleet's actual operating
    * mode (`script/launch-pack.sh:1-10`, `README.md:205-213`: jobs
    * restart by tar count and each range writes its own
    * `<start>-<end>/` subdir, `tokenize/main.py:151`). Every stage is
    * individually gated elsewhere; this gate pins the COMPOSITION —
    * the curated survivor set flows through pack keys into per-tar
    * merge groups, the two ranges reproduce exactly the single run's
    * groups, and the final strict-check index parquet carries the
    * per-group sample counts the oracle derives from `documents`
    * alone. Curate runs with the two SQL-replicable filters (C4
    * quality + exact-dedup; span filter disabled via max-dup-frac 1,
    * rates at keep-all) so the oracle stays exact. */
  private def fleetChain(s: SparkSession, dir: String): DataFrame = {
    val docsIn = scratchDir("graft_w31d")
    val curatedOut = scratchDir("graft_w31c")
    val packOut = scratchDir("graft_w31p")
    val tokOut = scratchDir("graft_w31t")
    val idxOut = scratchDir("graft_w31i")
    Tables(s, dir).documents.select(col("doc_id"), col("text"), col("lang"))
      .write.mode("overwrite").parquet(docsIn)
    graft.Pipeline.run(s, Map(
      "stage" -> "curate", "input" -> docsIn,
      "min-words" -> "30", "max-dup-frac" -> "1.0",
      "save-path" -> curatedOut)).collect(): Unit
    val meta = s.read.parquet(curatedOut).select(
      format_string("videos/%09d.mp4", col("doc_id")).as("video_path"),
      col("text").as("value"))
    val info = PackStage.run(meta, packOut, PackStage.PackOptions(
      numSegments = 2, samplesPerTar = 25, alignShards = true))
    val urls = numericShardUrls(info)
    // two resumed ranges over the packed shard list: [0,k) then [k,n)
    val k = math.max(1, urls.length / 2)
    Seq((0, k), (k, urls.length)).filter(t => t._2 > t._1).foreach {
      case (a, b) =>
        graft.Pipeline.run(s, Map(
          "stage" -> "tokenize", "input" -> urls.mkString("::"),
          "start" -> a.toString, "end" -> b.toString,
          "shard-size" -> "1", "save-path" -> tokOut)).collect(): Unit
    }
    // strict check over BOTH ranges' outputs → the fleet's index
    val fs = new org.apache.hadoop.fs.Path(tokOut)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val tokTars = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(tokOut), true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".tar")) b += f.getPath.toString
      }
      b.result().sorted
    }
    val idx = graft.Pipeline.run(s, Map(
      "stage" -> "check", "input" -> tokTars.mkString("::"),
      "save-path" -> idxOut))
    // global merge-group id = range start + in-range partition id
    // (shard-size 1: group p of range [a,b) tokenized input tar a+p)
    idx.select(
        (regexp_extract(col("url"), "/(\\d+)-\\d+/shard_\\d+-", 1)
          .cast("int") +
          regexp_extract(col("url"), "/shard_(\\d+)-", 1).cast("int"))
          .as("tar_seq"),
        col("nsamples"))
      .groupBy(col("tar_seq"))
      .agg(sum(col("nsamples")).as("nsamples"))
      .orderBy(col("tar_seq"))
  }

  /** Curate's two active filters replayed in SQL (C4 quality: >=30
    * single-space words, mean word length in [3,10], no lorem/brace/
    * javascript; exact-dedup: min doc_id per identical text), then the
    * wds04 recipe per 25-doc tar: rank → tar → per-tar 8k greedy fold,
    * flushed bins = nsamples, empty groups write no tar. */
  private val fleetChainSql =
    """WITH RECURSIVE q AS (
      |  SELECT doc_id, text,
      |    len(string_split(text, ' ')) AS nw,
      |    (length(text) - (len(string_split(text, ' ')) - 1))::DOUBLE
      |      / len(string_split(text, ' ')) AS ml
      |  FROM documents),
      |qk AS (
      |  SELECT doc_id, text FROM q
      |  WHERE nw >= 30 AND ml >= 3.0 AND ml <= 10.0
      |    AND NOT contains(lower(text), 'lorem ipsum')
      |    AND NOT contains(text, '{')
      |    AND NOT contains(lower(text), 'javascript')),
      |curated AS (
      |  SELECT doc_id, text FROM qk
      |  WHERE doc_id = (SELECT min(doc_id) FROM qk q2
      |                  WHERE q2.text = qk.text)),
      |ranked AS (
      |  SELECT row_number() OVER (ORDER BY doc_id) AS rn,
      |    518 + len(string_split(text, ' ')) AS toks
      |  FROM curated),
      |d AS (
      |  SELECT ((rn - 1) // 25)::INT AS tar,
      |    row_number() OVER (PARTITION BY (rn - 1) // 25
      |      ORDER BY rn) AS tn,
      |    toks
      |  FROM ranked),
      |r(tar, tn, acc, bin) AS (
      |  SELECT tar, tn, toks, 0 FROM d WHERE tn = 1
      |  UNION ALL
      |  SELECT d.tar, d.tn,
      |    CASE WHEN r.acc + d.toks > 8000 THEN d.toks
      |         ELSE r.acc + d.toks END,
      |    CASE WHEN r.acc + d.toks > 8000 THEN r.bin + 1 ELSE r.bin END
      |  FROM r JOIN d ON d.tar = r.tar AND d.tn = r.tn + 1)
      |SELECT tar AS tar_seq, max(bin)::BIGINT AS nsamples
      |FROM r GROUP BY tar HAVING max(bin) >= 1
      |ORDER BY tar_seq""".stripMargin

  /** wds17: CONTINUOUS shard ingest through the DSv2 streaming path —
    * pack real aligned shards, then `readStream.format("wds")` over the
    * output directory (AvailableNow) into a PER-KEY Complete-mode agg:
    * every sample must arrive exactly once with its full entry set, so
    * the result equals wds05's per-key batch oracle row-for-row. The
    * offset watermark is the naturally-largest shard url; the
    * incremental-discovery path (new shards between restarts) is
    * spec-asserted in WdsDataSourceSpec. */
  private def streamShards(s: SparkSession, dir: String): DataFrame = {
    val out = scratchDir("graft_ssh")
    PackStage.run(docMeta(s, dir), out,
      PackStage.PackOptions(numSegments = 4, samplesPerTar = 100,
        alignShards = true))
      .collect() // materialize the write before the stream starts
    val stream = s.readStream.format("wds").load(out)
      .select(col("key"), size(map_keys(col("entries"))).as("n_entries"))
      .groupBy(col("key")).agg(max(col("n_entries")).as("n_entries"))
    val name = "stream_shards_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    graft.streaming.EventStreams.runToMemory(s, stream, name,
      org.apache.spark.sql.streaming.OutputMode.Complete(),
      statePartitions = Some(4))
      .orderBy(col("key"))
  }

  /** wds18: CONTINUOUS tokenize — the E2 stage as a streaming consumer
    * of arriving shards. `readStream.format("wds")` over the E1 output,
    * `foreachBatch` running the REAL `TokenizeStage` per epoch (the
    * standard pattern for reusing a batch writer in a stream), one
    * AvailableNow epoch over the staged fixture ⇒ identical merge-group
    * semantics to wds03, so it shares that oracle. In production each
    * arriving shard-group is its own epoch — matching the reference's
    * per-group packing scope, where bins never span groups. */
  private def streamTokenize(s: SparkSession, dir: String): DataFrame = {
    val packOut = scratchDir("graft_se1")
    val tokOut = scratchDir("graft_se2")
    PackStage.run(docMeta(s, dir), packOut,
      PackStage.PackOptions(numSegments = 4, samplesPerTar = 100,
        alignShards = true)).collect()
    implicit val enc = org.apache.spark.sql.Encoders.product[Sample]
    val q = s.readStream.format("wds").load(packOut)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], epochId: Long) =>
        TokenizeStage.run(batch.as[Sample].coalesce(1),
          s"$tokOut/e$epochId").collect()
        ()
      }
      .option("checkpointLocation", scratchDir("graft_se2_ck"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val fs = new org.apache.hadoop.fs.Path(tokOut).getFileSystem(
      s.sparkContext.hadoopConfiguration)
    val tokUrls = fs.globStatus(
      new org.apache.hadoop.fs.Path(tokOut, "e*/*.tar"))
      .map(_.getPath.toString).toSeq.sorted
    CheckStage.checked(WdsReader.readUrls(s, tokUrls))
      .select(col("key"), col("n_tokens"), col("n_images"))
      .orderBy(col("key"))
  }

  /** The streaming sources need a parquet copy with micros timestamps
    * (the nanos source needs the same conversion the batch path
    * applies). The fixture is immutable per sf dir, so the staged copy
    * is memoized per JVM — st01/st03/st04 share one write instead of
    * re-staging identical bytes per query (st02 stages its own doubled
    * copy). */
  private val stagedEvents =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def eventsStage(s: SparkSession, dir: String): String =
    stagedEvents.computeIfAbsent(dir, _ => {
      val stage = scratchDir("graft_events_stage")
      Tables(s, dir).events.write.mode("overwrite").parquet(stage)
      stage
    })

  /** Bench warmup hook: materialize the memoized staged copy OUTSIDE a
    * query's timed window — the copy is harness setup (a production
    * stream reads a live source), and charging it to the first streaming
    * query misstates that query's cost. */
  private[graft] def warmEventsStage(s: SparkSession, dir: String): Unit = {
    eventsStage(s, dir); ()
  }

  /** Streaming tumbling-window agg (Complete mode, AvailableNow) — must
    * equal the batch hourly query, so it shares its DuckDB oracle. */
  private def streamHourly(s: SparkSession, dir: String): DataFrame = {
    val stage = eventsStage(s, dir)
    val name = "stream_hourly_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val result = EventStreams.runToMemory(s,
      EventStreams.hourlyCounts(EventStreams.readEventStream(s, stage)),
      name, org.apache.spark.sql.streaming.OutputMode.Complete(),
      statePartitions = Some(4))
    result.orderBy(col("hour"), col("event_type"))
  }

  /** Streaming exact dedup: the event table is delivered TWICE (the
    * at-least-once pattern); dropDuplicatesWithinWatermark on event_id
    * must reduce it to exactly-once, so the windowed agg equals the
    * batch hourly query over the single copy — same oracle as st01. */
  private def streamDedup(s: SparkSession, dir: String): DataFrame = {
    val stage = scratchDir("graft_sdd")
    val ev = Tables(s, dir).events
    ev.write.mode("overwrite").parquet(stage)
    ev.write.mode("append").parquet(stage) // same rows again, new files
    val name = "stream_dedup_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    EventStreams.runToMemory(s,
      EventStreams.dedupHourly(EventStreams.readEventStream(s, stage)),
      name, org.apache.spark.sql.streaming.OutputMode.Complete(),
      statePartitions = Some(4))
      .orderBy(col("hour"), col("event_type"))
  }

  /** Stream-stream interval join (purchase within 1h of a click, same
    * user) — batch-SQL oracle over the same events. */
  private def streamAttribution(s: SparkSession, dir: String): DataFrame = {
    val stage = eventsStage(s, dir)
    def typed(t: String) =
      EventStreams.readEventStream(s, stage).filter(col("event_type") === t)
    val name = "stream_attr_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    EventStreams.runToMemory(s,
      EventStreams.clickAttribution(typed("click"), typed("purchase")),
      name, org.apache.spark.sql.streaming.OutputMode.Append(),
      statePartitions = Some(4))
      .orderBy(col("user_id"), col("click_ts"), col("purchase_ts"))
  }

  /** Streaming sessionization gate: flatMapGroupsWithState over a
    * bounded replay must equal batch qe02, so it shares its oracle.
    * Append mode only emits gap-CLOSED sessions, so the staged stream
    * carries one flush sentinel per user (ts = global max + 2h, beyond
    * any 30-min gap) — the punctuation trick a bounded replay uses to
    * close trailing sessions. The sentinels' own sessions stay open and
    * are never emitted. */
  private def streamSessionize(s: SparkSession, dir: String): DataFrame = {
    val stage = scratchDir("graft_ssess")
    val ev = Tables(s, dir).events
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    val flushTs = new java.sql.Timestamp(maxTs.getTime + 2L * 3600 * 1000)
    val sentinels = ev.select(col("user_id")).distinct()
      .select(lit(-1L).as("event_id"), lit(flushTs).as("ts"),
        col("user_id"), lit("flush").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
    ev.unionByName(sentinels).write.mode("overwrite").parquet(stage)
    val name = "stream_sess_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    EventStreams.runToMemory(s,
      EventStreams.sessionize(EventStreams.readEventStream(s, stage),
        timeoutEviction = false),
      name, org.apache.spark.sql.streaming.OutputMode.Append(),
      statePartitions = Some(4))
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("session_start"), col("session_end"),
        round(col("session_value"), 2).as("session_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  private val streamAttributionSql =
    """SELECT c.user_id, c.ts AS click_ts, p.ts AS purchase_ts
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      |ORDER BY c.user_id, click_ts, purchase_ts""".stripMargin

  private val streamHourlySql =
    """SELECT date_trunc('hour', ts) AS hour, event_type,
      | count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  /** Multimodal: synthesize per-doc PNGs (deterministic), decode +
    * feature-extract through the binary-column path. The pixel bytes
    * are a pure function of doc_id and PNG is lossless, so the decoded
    * mean is SQL-derivable — hash-checked. */
  private def mediaFeatures(s: SparkSession, dir: String): DataFrame = {
    val mkPng = udf { (id: Long) =>
      val px = Array.tabulate(3 * 4 * 3)(i => ((id * 31 + i) % 251).toByte)
      graft.wds.Codecs.encodeImage(
        graft.wds.Codecs.ImageData(3, 4, 3, "RGB", px), "png")
    }
    val media = Tables(s, dir).documents
      .select(col("doc_id").as("media_id"), mkPng(col("doc_id")).as("content"))
    MediaColumns.imageFeatures(media)
      .select(col("media_id"), col("height"), col("width"),
        col("nChannels"), round(col("mean_luma"), 4).as("mean_luma"))
      .orderBy(col("media_id"))
  }

  /** Multimodal: video frame sampling fan-out (segment-center math over
    * a pluggable decoder). The gate runs the Fixed geometry so the
    * fan-out shape is hash-checked (8 segment centers of a 120-frame
    * clip; center indices are pure config math); content-varying
    * geometry is covered by MediaColumnsSpec/FramesSpec. */
  private def frameSample(s: SparkSession, dir: String): DataFrame = {
    val media = Tables(s, dir).documents
      .select(col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("content"))
    MediaColumns.sampleFrames(media, numSegments = 8,
      frames = graft.pack.FrameSource.Fixed(count = 120))
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames"),
        max(col("frame_index")).as("max_frame_index"))
      .orderBy(col("media_id"))
  }

  private val frameSampleSql = {
    // mirror of Frames.segmentCenters(8, 25.0, 119, bound=(0, 4.8)):
    // start=0, end=min(round(4.8*25)=120, 119)=119, seg=119/8,
    // idx_i = int(seg/2 + rint(seg*i)) — max at i=7
    val seg = 119.0 / 8
    val maxIdx = (seg / 2 + math.rint(seg * 7)).toInt
    s"""SELECT doc_id AS media_id, 8::BIGINT AS n_frames,
       | $maxIdx AS max_frame_index
       |FROM documents ORDER BY media_id""".stripMargin
  }

  /** The wds operator vocabulary driven through real shards: pack →
    * Dataset[Sample] → renameKeys (glob) → extractKeys → validSamples →
    * per-sample projection. Every doc must survive with exactly the
    * renamed json entry — the P7/P8/P9/P15 chain, hash-checked. */
  private def sampleOps(s: SparkSession, dir: String): DataFrame = {
    import graft.wds.SampleOps._
    val out = scratchDir("graft_ops")
    val info = PackStage.run(docMeta(s, dir), out,
      PackStage.PackOptions(numSegments = 2, samplesPerTar = 100,
        alignShards = true))
    val urls = shardUrls(info)
    WdsReader.readUrls(s, urls)
      .renameKeys(Seq("meta" -> "*json", "frame0" -> "0.jpg",
        "frame1" -> "1.jpg"))
      .validSamples
      .extractKeys("meta")
      .select(col("key"),
        when(col("meta").isNotNull, 1).otherwise(0).as("has_meta"))
      .orderBy(col("key"))
  }

  private val sampleOpsSql =
    s"""SELECT $KeyExpr AS key, 1 AS has_meta
       |FROM $RnCte ORDER BY key""".stripMargin

  /** Multimodal audio: per-doc WAVs are synthesized (sine tones,
    * deterministic geometry from doc_id), decoded by the pure-JVM
    * WavCodec, and feature-extracted. Geometry columns (frame count,
    * duration) are a pure function of doc_id, so they ARE
    * oracle-checked; rms/peak depend on libm sin and are asserted in
    * WavCodecSpec instead (StrictMath on the Spark side — a DuckDB sin
    * would not be bit-identical). */
  private def audioFeatures(s: SparkSession, dir: String): DataFrame = {
    val mkWav = udf { (id: Long) =>
      val sr = 8000
      val n = sr + (id % 100).toInt * 80
      val freq = 220.0 + (id % 12) * 20.0
      val samples = Array.tabulate(n)(i =>
        (12000.0 * StrictMath.sin(2.0 * StrictMath.PI * freq * i / sr))
          .toShort)
      // container depth rotates per doc — real corpora mix 8/16/24-bit
      // and float WAVs, and the decode tier must normalize them all;
      // the output here is GEOMETRY (counts/rate), identical at every
      // depth, so the oracle is untouched while the parse path varies
      (id % 4) match {
        case 0 => graft.multimodal.WavCodec.encode(
          graft.multimodal.WavCodec.Wav(sr, 1, samples))
        case d =>
          import java.nio.{ByteBuffer, ByteOrder}
          val (fmt, bits) = d match {
            case 1 => (1, 8)
            case 2 => (1, 24)
            case _ => (3, 32)
          }
          val bodyLen = n * bits / 8
          val b = ByteBuffer.allocate(44 + bodyLen)
            .order(ByteOrder.LITTLE_ENDIAN)
          b.put("RIFF".getBytes("US-ASCII")); b.putInt(36 + bodyLen)
          b.put("WAVE".getBytes("US-ASCII"))
          b.put("fmt ".getBytes("US-ASCII")); b.putInt(16)
          b.putShort(fmt.toShort); b.putShort(1)
          b.putInt(sr); b.putInt(sr * bits / 8)
          b.putShort((bits / 8).toShort); b.putShort(bits.toShort)
          b.put("data".getBytes("US-ASCII")); b.putInt(bodyLen)
          samples.foreach { v =>
            bits match {
              case 8 => b.put((((v >> 8) + 128) & 0xff).toByte)
              case 24 =>
                b.put(0.toByte) // low byte: exact << 8 of the 16-bit value
                b.put((v & 0xff).toByte)
                b.put(((v >> 8) & 0xff).toByte)
              case _ => b.putFloat(v / 32767.0f)
            }
          }
          b.array()
      }
    }
    val media = Tables(s, dir).documents
      .select(col("doc_id").as("media_id"), mkWav(col("doc_id")).as("content"))
    MediaColumns.audioFeatures(media)
      .select(col("media_id"), col("n_samples"), col("channels"),
        col("sample_rate"), round(col("duration_sec"), 4).as("duration_sec"))
      .orderBy(col("media_id"))
  }

  private val audioFeaturesSql =
    """SELECT doc_id AS media_id,
      | (8000 + (doc_id % 100) * 80)::INT AS n_samples,
      | 1 AS channels, 8000 AS sample_rate,
      | round((8000 + (doc_id % 100) * 80)::DOUBLE / 8000, 4) AS duration_sec
      |FROM documents ORDER BY media_id""".stripMargin

  /** Multimodal video: per-doc minimal MP4s (ISO BMFF boxes) probed by
    * the pure-JVM box walker — timescale/duration/dimensions are pure
    * functions of doc_id, so the WHOLE row is oracle-checked. */
  private def videoProbe(s: SparkSession, dir: String): DataFrame = {
    val mkMp4 = udf { (id: Long) =>
      graft.multimodal.Mp4Probe.encodeMinimal(
        timescale = 1000,
        duration = 1000L * (5 + id % 20),
        width = (320 + (id % 4) * 160).toInt,
        height = (240 + (id % 4) * 120).toInt)
    }
    val media = Tables(s, dir).documents
      .select(col("doc_id").as("media_id"), mkMp4(col("doc_id")).as("content"))
    implicit val enc = org.apache.spark.sql.Encoders.product[
      (Long, Double, Int, Int, Int)]
    media.select(col("media_id"), col("content"))
      .as(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.BINARY))
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val m = graft.multimodal.Mp4Probe.probe(bytes)
          (id, m.durationSec, m.width, m.height, m.nTracks)
        }
      }
      .toDF("media_id", "duration_sec", "width", "height", "n_tracks")
      .orderBy(col("media_id"))
  }

  private val videoProbeSql =
    """SELECT doc_id AS media_id,
      | (5 + doc_id % 20)::DOUBLE AS duration_sec,
      | (320 + (doc_id % 4) * 160)::INT AS width,
      | (240 + (doc_id % 4) * 120)::INT AS height,
      | 1 AS n_tracks
      |FROM documents ORDER BY media_id""".stripMargin

  /** mm06: audio RESAMPLING content-checked end-to-end — per-doc square
    * waves (integer samples, geometry a pure function of doc_id) are
    * WAV-encoded, decoded by the real codec, and 8 kHz→12 kHz resampled
    * by [[graft.multimodal.WavCodec.resampleLinear]], whose integer-
    * exact interpolation lets the DuckDB oracle replay the SAME formula
    * over a generate_series — so the checksum hashes the resampler's
    * every output sample, not just its geometry (mm03's rms/peak stop
    * at spec-assertions because libm sin isn't cross-engine). */
  private def audioResample(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.WavCodec
    val mkWav = udf { (id: Long) =>
      val n = 4000 + (id % 50).toInt * 40
      val h = 25 + (id % 10).toInt
      val samples = Array.tabulate(n)(i =>
        (10000 - 20000 * ((i / h) % 2)).toShort)
      WavCodec.encode(WavCodec.Wav(8000, 1, samples))
    }
    val media = Tables(s, dir).documents
      .select(col("doc_id").as("media_id"), mkWav(col("doc_id")).as("content"))
    implicit val enc = org.apache.spark.sql.Encoders.product[(Long, Int, Long)]
    media
      .as(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.BINARY))
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val out = WavCodec.resampleLinear(WavCodec.decode(bytes), 12000)
          var sum = 0L
          var j = 0
          while (j < out.samples.length) {
            sum += out.samples(j).toLong * ((j % 97) + 1); j += 1
          }
          (id, out.samples.length, sum)
        }
      }
      .toDF("media_id", "n_out", "checksum")
      .orderBy(col("media_id"))
  }

  private val audioResampleSql =
    """WITH geom AS (
      |  SELECT doc_id, (4000 + (doc_id % 50) * 40)::BIGINT AS n,
      |    (25 + (doc_id % 10))::BIGINT AS h
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, n, h,
      |    unnest(generate_series(0, (n - 1) * 12000 // 8000)) AS j
      |  FROM geom),
      |interp AS (
      |  SELECT doc_id, j,
      |    (j * 8000) // 12000 AS idx, (j * 8000) % 12000 AS rem,
      |    10000 - 20000 * ((((j * 8000) // 12000) // h) % 2) AS s0,
      |    10000 - 20000 * (((((j * 8000) // 12000) + 1) // h) % 2) AS s1,
      |    n
      |  FROM pos)
      |SELECT doc_id AS media_id, count(*)::INT AS n_out,
      |  sum((CASE WHEN rem = 0 OR idx + 1 >= n THEN s0
      |        ELSE s0 + (rem * (s1 - s0)) // 12000 END)
      |      * ((j % 97) + 1))::BIGINT AS checksum
      |FROM interp GROUP BY doc_id ORDER BY media_id""".stripMargin

  /** REAL frame decode end-to-end: per-doc PNG-codec MP4s (valid ISO
    * BMFF with a full stbl sample table, [[graft.multimodal.Mp4Samples
    * .encodeFrames]]), frames extracted by the real sample-table walk
    * ([[graft.pack.FrameSource.Mp4Frames]]) and pixel-decoded by real
    * ImageIO. PNG is lossless and each 1×1 frame's pixel is a pure
    * function of (doc_id, frame), so the decoded pixel sums are
    * SQL-derivable — the whole decode path is hash-checked. (JPEG
    * tolerance decode of the committed tiny_mjpeg.mp4 is spec-asserted
    * in Mp4SamplesSpec; lossy decode can't hash-match SQL.) */
  private def mjpegDecode(s: SparkSession, dir: String): DataFrame = {
    val mkMp4 = udf { (id: Long) =>
      val n = (4 + id % 5).toInt
      val frames = (0 until n).map { f =>
        val px = Array(
          ((id * 7 + f) % 251).toByte,
          ((id * 11 + 2 * f) % 251).toByte,
          ((id * 13 + 3 * f) % 251).toByte)
        graft.wds.Codecs.encodeImage(
          graft.wds.Codecs.ImageData(1, 1, 3, "RGB", px), "png")
      }
      graft.multimodal.Mp4Samples.encodeFrames(
        frames, codec = "png ", fps = 5, width = 1, height = 1,
        syncEvery = 2)
    }
    val media = Tables(s, dir).documents
      .select(col("doc_id").as("media_id"), mkMp4(col("doc_id")).as("content"))
    implicit val enc = org.apache.spark.sql.Encoders.product[
      (Long, Int, Int, Long)]
    media.select(col("media_id"), col("content"))
      .as(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.BINARY))
      .mapPartitions { it =>
        val src = graft.pack.FrameSource.Mp4Frames
        it.map { case (id, mp4) =>
          val n = src.frameCount(mp4)
          val nKey = src.frameTypes(mp4).count(_ == 'I')
          var pixelSum = 0L
          var f = 0
          while (f < n) {
            val img = src.frameImage(mp4, f)
            var i = 0
            while (i < img.data.length) {
              pixelSum += img.data(i) & 0xff; i += 1
            }
            f += 1
          }
          (id, n, nKey, pixelSum)
        }
      }
      .toDF("media_id", "n_frames", "n_key", "pixel_sum")
      .orderBy(col("media_id"))
  }

  /** mm07: image RESIZE content-checked end-to-end — per-doc PNGs of
    * doc-varying geometry (pixel bytes a pure function of doc_id, PNG
    * lossless) are decoded and nearest-neighbor resized by
    * [[graft.wds.Codecs.resizeNearest]], whose exact integer source
    * mapping (sx = ⌊x·srcW/dstW⌋) lets the DuckDB oracle replay EVERY
    * output pixel via integer `//` over a generate_series. Targets mix
    * upscale and downscale per doc, so both paths are hash-checked.
    * Reference resize: tokenize/utils.py 1280-bound PIL resize; this is
    * the augmentation-grade kernel behind the same binary-column
    * plumbing (decode → kernel → checksum inside one partition, the
    * image bytes never shuffle). */
  private def imageResize(s: SparkSession, dir: String): DataFrame = {
    val mkPng = udf { (id: Long) =>
      val w = 4 + (id % 5).toInt
      val h = 3 + (id % 4).toInt
      val px = Array.tabulate(h * w * 3)(i => ((id * 31 + i) % 251).toByte)
      graft.wds.Codecs.encodeImage(
        graft.wds.Codecs.ImageData(h, w, 3, "RGB", px), "png")
    }
    val media = Tables(s, dir).documents
      .select(col("doc_id").as("media_id"), mkPng(col("doc_id")).as("content"))
    implicit val enc = org.apache.spark.sql.Encoders.product[(Long, Int, Long)]
    media
      .as(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.BINARY))
      .mapPartitions { it =>
        it.map { case (id, png) =>
          val dstW = 2 + (id % 7).toInt
          val dstH = 2 + (id % 5).toInt
          val out = graft.wds.Codecs.resizeNearest(
            graft.wds.Codecs.decodeImage(png), dstW, dstH)
          var sum = 0L
          var k = 0
          while (k < out.data.length) {
            sum += (out.data(k) & 0xff).toLong * ((k % 97) + 1); k += 1
          }
          (id, out.data.length, sum)
        }
      }
      .toDF("media_id", "n_out", "checksum")
      .orderBy(col("media_id"))
  }

  private val imageResizeSql =
    """WITH geom AS (
      |  SELECT doc_id,
      |    (4 + doc_id % 5)::BIGINT AS w, (3 + doc_id % 4)::BIGINT AS h,
      |    (2 + doc_id % 7)::BIGINT AS dw, (2 + doc_id % 5)::BIGINT AS dh
      |  FROM documents)
      |SELECT doc_id AS media_id, (dw * dh * 3)::INT AS n_out,
      |  list_sum(list_transform(
      |    generate_series(0, (dw * dh * 3 - 1)::INT),
      |    k -> (doc_id * 31
      |          + (((k // (dw*3)) * h // dh) * w + ((k // 3) % dw) * w // dw)
      |            * 3 + k % 3) % 251
      |         * (k % 97 + 1)))::BIGINT AS checksum
      |FROM geom ORDER BY media_id""".stripMargin

  private val mjpegDecodeSql =
    """SELECT doc_id AS media_id,
      | (4 + doc_id % 5)::INT AS n_frames,
      | ((4 + doc_id % 5 + 1) // 2)::INT AS n_key,
      | list_sum(list_transform(
      |   generate_series(0, (3 + doc_id % 5)::INT),
      |   f -> (doc_id*7 + f) % 251 + (doc_id*11 + 2*f) % 251
      |      + (doc_id*13 + 3*f) % 251))::BIGINT AS pixel_sum
      |FROM documents ORDER BY media_id""".stripMargin

  override val defs: Map[String, QueryDef] = Map(
    "wds27_mixed_pack" -> QueryDef(mixedPack, Some(mixedPackSql)),
    "wds30_mixed_tokenize" -> QueryDef(mixedTokenize,
      Some(mixedTokenizeSql)),
    "wds31_fleet_chain" -> QueryDef(fleetChain, Some(fleetChainSql)),
    "wds32_pickle_roundtrip" -> QueryDef(pickleRoundtrip,
      Some(pickleRoundtripSql)),
    "wds26_npy_roundtrip" -> QueryDef(npyRoundtrip, Some(npyRoundtripSql)),
    "wds33_safetensors" -> QueryDef(safetensorsRoundtrip,
      Some(safetensorsRoundtripSql), bench = true),
    "wds34_safetensors_ann" -> QueryDef(safetensorsAnn,
      Some(SimilarityQueries.bruteTopKSql), bench = true),
    "wds28_tuple_ops" -> QueryDef(tupleDictOps, Some(tupleDictOpsSql)),
    "wds29_sample_algebra" -> QueryDef(sampleAlgebra, Some(sampleAlgebraSql)),
    // bench: wds35–wds40 deliberately stay oracle-only (r15 verdict
    // #2's explicit decision): they are op-algebra LAW rows over the
    // 500-row documents frame — sub-100 ms of real work where capture
    // variance is order-100%, no scale surface to regress (the ops
    // they pin have no plan cost beyond a groupBy), and the radar's
    // signal-to-noise comes from rows with real plan cost. The
    // production-posture rows (qc10, wds33/34, mm33–35) ARE benched.
    "wds35_roundrobin_slice" ->
      QueryDef(roundRobinSlice, Some(roundRobinSliceSql)),
    "wds36_batch_roundtrip" ->
      QueryDef(batchRoundtrip, Some(batchRoundtripSql)),
    "wds37_epoch_repeat_law" ->
      QueryDef(epochRepeatLaw, Some(epochRepeatLawSql)),
    "wds38_epoch_cache_identity" ->
      QueryDef(epochCacheIdentity, Some(epochCacheIdentitySql)),
    "wds39_shard_size_law" ->
      QueryDef(shardSizeLaw, Some(shardSizeLawSql)),
    "wds40_sample_law" ->
      QueryDef(sampleLaw, Some(sampleLawSql)),
    "wds25_un_avc_b" -> QueryDef(unAvcBPack, Some(unAvcBPackSql),
      bench = true),
    "wds24_un_avc" -> QueryDef(unAvcPack, Some(unAvcPackSql),
      bench = true),
    "wds23_kf_avc" -> QueryDef(kfAvcPack, Some(kfAvcPackSql),
      bench = true),
    "wds22_http_scheme" -> QueryDef(httpPack, Some(packKeysSql)),
    "wds21_pipe_scheme" -> QueryDef(pipePack, Some(packKeysSql)),
    "wds20_compaction_exec" -> QueryDef(compactionExec,
      Some(compactionExecSql), bench = true),
    "wds19_compaction_plan" -> QueryDef(compactionPlan,
      Some(compactionPlanSql)),
    "wds01_pack_stats" -> QueryDef(packStats, Some(packStatsSql)),
    "wds02_roundtrip" -> QueryDef(roundtrip, Some(
      "SELECT 5 AS n_entries, count(*) AS n_samples FROM documents"),
      bench = true),
    "wds03_tokenize_pack" -> QueryDef(tokenizePack, Some(tokenizePackSql)),
    "wds04_index_check" -> QueryDef(indexCheck, Some(indexCheckSql)),
    "wds05_pack_keys" -> QueryDef(packKeys, Some(packKeysSql)),
    "wds06_kf_pack" -> QueryDef(kfPack, Some(kfPackSql)),
    "wds07_interleave_pack" -> QueryDef(interleavePack, Some(interleavePackSql)),
    "wds08_sft_pack" -> QueryDef(sftPack, Some(sftPackSql)),
    "wds09_merlin_pack" -> QueryDef(merlinPack, Some(merlinPackSql)),
    "wds10_unicontrol_pack" -> QueryDef(unicontrolPack, Some(unicontrolPackSql)),
    "wds11_tokenize_multi" -> QueryDef(tokenizeMulti, bench = true, oracle = Some(
      """WITH RECURSIVE d AS (
        |  SELECT row_number() OVER (ORDER BY doc_id) AS rn,
        |    CAST(floor((row_number() OVER (ORDER BY doc_id) - 1) / 125)
        |      AS INT) AS grp,
        |    1034 + len(string_split(text, ' ')) AS toks
        |  FROM documents),
        |r(rn, grp, acc, bin) AS (
        |  SELECT rn, grp, toks, 0 FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.rn, d.grp,
        |    CASE WHEN d.grp <> r.grp THEN d.toks
        |         WHEN r.acc + d.toks > 8000 THEN d.toks
        |         ELSE r.acc + d.toks END,
        |    CASE WHEN d.grp <> r.grp THEN 0
        |         WHEN r.acc + d.toks > 8000 THEN r.bin + 1
        |         ELSE r.bin END
        |  FROM r JOIN d ON d.rn = r.rn + 1),
        |bins AS (
        |  SELECT r.grp, r.bin, count(*) AS n_docs, sum(t.toks) AS sum_toks
        |  FROM r JOIN d t ON t.rn = r.rn GROUP BY r.grp, r.bin),
        |mx AS (SELECT grp, max(bin) AS mb FROM bins GROUP BY grp)
        |SELECT b.grp AS "group", count(*) AS n_bins,
        |  sum(b.n_docs)::BIGINT AS n_docs,
        |  sum(b.sum_toks - (b.n_docs - 1))::BIGINT AS n_tokens
        |FROM bins b JOIN mx ON b.grp = mx.grp
        |WHERE b.bin < mx.mb
        |GROUP BY b.grp ORDER BY b.grp""".stripMargin)),
    "wds12_image_pack" -> QueryDef(imagePack, Some(imagePackSql)),
    "wds13_merlinun_pack" -> QueryDef(merlinUnPack, Some(merlinUnPackSql)),
    "wds14_sample_ops" -> QueryDef(sampleOps, Some(sampleOpsSql)),
    "wds15_cbors_roundtrip" -> QueryDef(cborsRoundtrip, Some(cborsRoundtripSql)),
    "wds16_multishard" -> QueryDef(multiShard, Some(multiShardSql)),
    "wds17_stream_shards" -> QueryDef(streamShards, Some(packKeysSql)),
    "wds18_stream_tokenize" -> QueryDef(streamTokenize,
      Some(tokenizePackSql)),
    "st01_stream_hourly" -> QueryDef(streamHourly, Some(streamHourlySql)),
    "st02_stream_dedup" -> QueryDef(streamDedup, Some(streamHourlySql)),
    "st03_stream_attribution" -> QueryDef(streamAttribution,
      Some(streamAttributionSql), bench = true),
    "st04_stream_sessionize" -> QueryDef(streamSessionize,
      Some(EventQueries.sessionizeSql)),
    "mm01_image_features" -> QueryDef(mediaFeatures, Some(
      """SELECT doc_id AS media_id, 3 AS height, 4 AS width,
        | 3 AS "nChannels",
        | round(list_sum(list_transform(generate_series(0, 35),
        |     i -> (doc_id * 31 + i) % 251)) / 36.0, 4) AS mean_luma
        |FROM documents ORDER BY media_id""".stripMargin)),
    "mm02_frame_sample" -> QueryDef(frameSample, Some(frameSampleSql)),
    "mm03_audio_features" -> QueryDef(audioFeatures, Some(audioFeaturesSql)),
    "mm04_video_probe" -> QueryDef(videoProbe, Some(videoProbeSql)),
    "mm06_audio_resample" -> QueryDef(audioResample, Some(audioResampleSql)),
    "mm05_mjpeg_decode" -> QueryDef(mjpegDecode, Some(mjpegDecodeSql),
      bench = true),
    "mm07_image_resize" -> QueryDef(imageResize, Some(imageResizeSql)),
  )
}
