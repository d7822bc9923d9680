package graft.wds

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.SparkSpec

/** Local-backed FileSystem that answers for whatever scheme it was
  * registered under (`fs.gs.impl` / `fs.ais.impl` in GopenSpec) — the
  * shape of a real gcs/ais Hadoop connector, minus the network. */
class AliasedLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  private var aliasUri: java.net.URI = java.net.URI.create("file:///")
  override def initialize(name: java.net.URI,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    aliasUri = java.net.URI.create(name.getScheme + ":///")
    super.initialize(name, conf)
  }
  // null-safe: the RawLocalFileSystem super-constructor qualifies its
  // working dir through getUri() before this class's fields initialize
  override def getUri: java.net.URI =
    if (aliasUri == null) java.net.URI.create("file:///") else aliasUri
  override def checkPath(path: org.apache.hadoop.fs.Path): Unit = ()
}

/** `pipe:` scheme parity (S8, gopen.py:153-330): subprocess stdout is
  * a first-class shard source, exit statuses surface as open errors
  * through the handler policy, SIGPIPE from early close is tolerated. */
class GopenSpec extends SparkSpec {

  private def writeTar(n: Int): String = {
    val dir = Files.createTempDirectory("gopen").toString
    val out = new java.io.FileOutputStream(s"$dir/shard.tar")
    val w = new TarIO.TarWriter(out)
    (0 until n).foreach { i =>
      w.write(Sample(f"$i%06d", "", Map(
        "txt" -> s"payload $i".getBytes(UTF_8))))
    }
    w.close()
    s"$dir/shard.tar"
  }

  test("pipe:cat streams a tar identically to the file: path") {
    val tar = writeTar(5)
    val direct = WdsReader.readUrls(spark, Seq(tar))
      .collect().map(s => s.key -> new String(s.entries("txt"), UTF_8))
    val piped = WdsReader.readUrls(spark, Seq(s"pipe:cat $tar"))
      .collect().map(s => s.key -> new String(s.entries("txt"), UTF_8))
    assert(piped.sortBy(_._1).toSeq == direct.sortBy(_._1).toSeq)
    assert(piped.length == 5)
  }

  test("pipe producer failure surfaces per handler policy") {
    val tar = writeTar(3)
    // reraise: the nonzero exit at EOF propagates
    val ex = intercept[org.apache.spark.SparkException] {
      WdsReader.readUrls(spark, Seq("pipe:false"),
        TarIO.ReadOptions(handler = Handler.Reraise)).collect()
    }
    assert(ex.getMessage.contains("pipe") ||
      Option(ex.getCause).exists(_.getMessage.contains("exited")))
    // continue: the bad shard is skipped, the good one read
    val got = WdsReader.readUrls(spark,
      Seq("pipe:false", s"pipe:cat $tar"),
      TarIO.ReadOptions(handler = Handler.WarnContinue)).collect()
    assert(got.length == 3)
  }

  test("DSv2 format(wds) reads pipe: urls") {
    val tar = writeTar(4)
    val df = spark.read.format("wds")
      .option("paths", s"pipe:cat $tar").load()
    assert(df.count() == 4)
  }

  test("http: scheme streams a tar identically to the file: path") {
    val tar = writeTar(6)
    val port = graft.queries.WdsQueries.httpFixturePort
    val url = s"http://127.0.0.1:$port$tar"
    val direct = WdsReader.readUrls(spark, Seq(tar))
      .collect().map(s => s.key -> new String(s.entries("txt"), UTF_8))
    val http = WdsReader.readUrls(spark, Seq(url))
      .collect().map(s => s.key -> new String(s.entries("txt"), UTF_8))
    assert(http.sortBy(_._1).toSeq == direct.sortBy(_._1).toSeq)
    // and through the DSv2 path
    assert(spark.read.format("wds").option("paths", url).load()
      .count() == 6)
  }

  test("early close tolerates SIGPIPE (slice stops the producer)") {
    val tar = writeTar(50)
    import SampleOps._
    val got = WdsReader.readUrls(spark, Seq(s"pipe:cat $tar"))
      .slice(3).collect()
    assert(got.length == 3)
  }

  /** run `body` with graft.gopen.rewrite set, restoring the prior
    * value after (other suites must not inherit the rules) */
  private def withRewrite[T](rules: String)(body: => T): T = {
    val prev = sys.props.get("graft.gopen.rewrite")
    System.setProperty("graft.gopen.rewrite", rules)
    try body
    finally prev match {
      case Some(v) => System.setProperty("graft.gopen.rewrite", v): Unit
      case None => System.clearProperty("graft.gopen.rewrite"): Unit
    }
  }

  test("GOPEN_REWRITE: anchored regex, first change wins, no re-rewrite") {
    withRewrite("^a://=b://;^b://=c://;^x=y") {
      // first rule that CHANGES the url wins; result is not re-run
      assert(Gopen.rewriteUrl("a://bucket/f.tar") == "b://bucket/f.tar")
      assert(Gopen.rewriteUrl("b://bucket/f.tar") == "c://bucket/f.tar")
      // anchored: mid-url matches do not fire
      assert(Gopen.rewriteUrl("zz-a://bucket") == "zz-a://bucket")
      // untouched urls pass through
      assert(Gopen.rewriteUrl("file:///tmp/x.tar") == "file:///tmp/x.tar")
    }
    // no rules installed -> identity
    assert(Gopen.rewriteUrl("a://bucket/f.tar") == "a://bucket/f.tar")
  }

  test("GOPEN_REWRITE: bucket aliasing feeds the real open path") {
    val tar = writeTar(4)
    withRewrite(s"^graftdata://shards/=file://${tar.stripSuffix("shard.tar")}") {
      val got = WdsReader.readUrls(spark,
        Seq("graftdata://shards/shard.tar")).collect()
      assert(got.length == 4)
    }
  }

  test("GOPEN_REWRITE can retarget a scheme to pipe: (USE_AIS_FOR shape)") {
    val tar = writeTar(3)
    withRewrite("^graftais://=pipe:cat /") {
      val got = WdsReader.readUrls(spark,
        Seq("graftais://" + tar.stripPrefix("/"))).collect()
      assert(got.length == 3)
    }
  }

  private def withProp(key: String, value: String)(body: => Unit): Unit = {
    val prev = sys.props.get(key)
    System.setProperty(key, value)
    try body
    finally prev match {
      case Some(p) => System.setProperty(key, p): Unit
      case None => System.clearProperty(key): Unit
    }
  }

  test("GOPEN_SCHEMES: env-registered scheme reads a shard (alias handler)") {
    // gopen.py:331-350's dispatch-dict registration, spelled
    // scheme=target: a custom scheme whose handler is another scheme
    // re-enters the open under that scheme (here onto a Hadoop
    // fs.<scheme>.impl connector, faked local)
    val tar = writeTar(4)
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftfs.impl", "graft.wds.AliasedLocalFileSystem")
    try withProp("graft.gopen.schemes", "mydata=graftfs") {
      val in = Gopen.open(s"mydata://$tar", conf)
      val direct = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(tar))
      assert(in.readAllBytes().toSeq == direct.toSeq)
      in.close()
      // full reader path too: the registered scheme feeds WdsReader
      val got = WdsReader.readUrls(spark, Seq(s"mydata://$tar")).collect()
      assert(got.length == 4)
    } finally conf.unset("fs.graftfs.impl")
  }

  test("GOPEN_SCHEMES: pipe-template handler substitutes {} and {path}") {
    val tar = writeTar(3)
    withProp("graft.gopen.schemes", "catscheme=pipe:cat /{path}") {
      val got = WdsReader.readUrls(spark,
        Seq("catscheme://" + tar.stripPrefix("/"))).collect()
      assert(got.length == 3)
    }
    // {} carries the FULL url (the gopen_curl shape: curl -s '{}');
    // note `;` is the entry separator (as in GOPEN_REWRITE), so the
    // command stays semicolon-free
    withProp("graft.gopen.schemes",
      "echoscheme=pipe:cat \"$(printf %s '{}' | sed -e s_^echoscheme://_/_)\"") {
      val got = WdsReader.readUrls(spark,
        Seq("echoscheme://" + tar.stripPrefix("/"))).collect()
      assert(got.length == 3)
    }
  }

  test("pipe-template substitution is shell-safe (metachars stay literal)") {
    // shard URLs are DATA: one crafted shard name in a 100 TB shard
    // list must not execute as shell syntax inside a registered
    // pipe-template handler. The substitution single-quotes the value,
    // so $(...), backticks, quotes, and spaces all arrive literally.
    val canary = Files.createTempDirectory("gopen").resolve("pwned")
    val evil = "a b$(touch " + canary + ")`touch " + canary + "`'x'\"y\""
    withProp("graft.gopen.schemes", "evilscheme=pipe:printf %s {path}") {
      val in = Gopen.open("evilscheme://" + evil,
        spark.sparkContext.hadoopConfiguration)
      assert(new String(in.readAllBytes(), UTF_8) == evil)
      in.close()
    }
    withProp("graft.gopen.schemes", "evilfull=pipe:printf %s {}") {
      val in = Gopen.open("evilfull://" + evil,
        spark.sparkContext.hadoopConfiguration)
      assert(new String(in.readAllBytes(), UTF_8) == "evilfull://" + evil)
      in.close()
    }
    assert(!Files.exists(canary), "shell injection executed")
  }

  test("templates that already quote the placeholder stay one shell word") {
    // the reference's gopen_curl writes `curl -s '{}'` — author-side
    // quotes immediately around the placeholder are absorbed into our
    // quoting, so a URL with spaces/quotes still arrives as exactly
    // one argument instead of splitting or carrying literal quotes
    val spaced = "dir with space/sh'ard 01.tar"
    for (tpl <- Seq("q1=pipe:printf %s '{path}'",
        "q2=pipe:printf %s \"{path}\"")) {
      val scheme = tpl.takeWhile(_ != '=')
      withProp("graft.gopen.schemes", tpl) {
        val in = Gopen.open(s"$scheme://" + spaced,
          spark.sparkContext.hadoopConfiguration)
        assert(new String(in.readAllBytes(), UTF_8) == spaced)
        in.close()
      }
    }
  }

  test("substitution never re-scans substituted values: a path " +
    "containing a literal placeholder stays data") {
    // sequential replace chains would splice the URL into the middle
    // of the already-substituted {path} value
    val tricky = "a{}b"
    val out = Gopen.substituteAll("cat '{path}' {}",
      Seq("{path}" -> tricky, "{}" -> s"q1://$tricky"))
    assert(out == s"cat '$tricky' 'q1://$tricky'", out)
    // and end-to-end through a registered scheme handler
    withProp("graft.gopen.schemes", "q9=pipe:printf %s '{path}'") {
      val in = Gopen.open("q9://" + tricky,
        spark.sparkContext.hadoopConfiguration)
      assert(new String(in.readAllBytes(), UTF_8) == tricky)
      in.close()
    }
  }

  test("USE_AIS_FOR aliases listed protocols to the ais handler") {
    val tar = writeTar(5)
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.ais.impl", "graft.wds.AliasedLocalFileSystem")
    try withProp("graft.gopen.useAisFor", "gsx:s3x") {
      for (scheme <- Seq("gsx", "s3x")) {
        val in = Gopen.open(s"$scheme://$tar", conf)
        val direct = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(tar))
        assert(in.readAllBytes().toSeq == direct.toSeq, scheme)
        in.close()
      }
      // explicit GOPEN_SCHEMES entries win over USE_AIS_FOR
      withProp("graft.gopen.schemes", "gsx=pipe:cat /" + tar.stripPrefix("/")
        + " #") {
        val in = Gopen.open(s"gsx://ignored", conf)
        assert(in.readAllBytes().nonEmpty)
        in.close()
      }
    } finally conf.unset("fs.ais.impl")
  }

  test("gs:/ais: schemes delegate to Hadoop fs.<scheme>.impl aliases") {
    // the connector path (gopen.py:153-330 gs/ais handlers): any scheme
    // with a Hadoop FileSystem binding opens natively — faked here by
    // aliasing gs:/ais: to a local-backed FS, the documented S8 seam
    // for clusters that ship gcs/ais connectors
    val tar = writeTar(5)
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.gs.impl", "graft.wds.AliasedLocalFileSystem")
    conf.set("fs.ais.impl", "graft.wds.AliasedLocalFileSystem")
    try {
      for (scheme <- Seq("gs", "ais")) {
        val in = Gopen.open(s"$scheme://$tar", conf)
        val direct = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(tar))
        val got = in.readAllBytes()
        in.close()
        assert(got.toSeq == direct.toSeq, scheme)
      }
    } finally {
      conf.unset("fs.gs.impl")
      conf.unset("fs.ais.impl")
    }
  }

  test("the seekable channel reads into heap and direct buffers alike") {
    val file = Files.createTempFile("gopen_seek", ".bin")
    val data = Array.tabulate(10000)(i => (i * 31 + i / 7).toByte)
    Files.write(file, data)
    val ch = Gopen.openSeekable(file.toString,
      spark.sparkContext.hadoopConfiguration).get
    try {
      /** Fill `dst` from `at` until it is full or the channel ends. */
      def readAt(at: Long, dst: java.nio.ByteBuffer): Int = {
        ch.position(at)
        val p0 = dst.position()
        var n = 0
        while (n >= 0 && dst.hasRemaining) n = ch.read(dst)
        assert(ch.position() == at + dst.position() - p0)
        dst.position() - p0
      }
      def bytes(b: java.nio.ByteBuffer, from: Int, n: Int): Seq[Byte] =
        (from until from + n).map(b.get)
      // a heap buffer over the middle of a larger array, at a non-zero
      // position: only [position, limit) of that slice is written
      val backing = Array.fill[Byte](600)(-1)
      val heap = java.nio.ByteBuffer.wrap(backing, 50, 500).slice()
      heap.position(20)
      assert(heap.arrayOffset == 50)
      assert(readAt(1234, heap) == 480)
      assert(bytes(heap, 20, 480) == data.slice(1234, 1714).toSeq)
      assert(backing.take(70).forall(_ == -1) &&
        backing.drop(550).forall(_ == -1))
      val direct = java.nio.ByteBuffer.allocateDirect(500)
      direct.position(20)
      assert(readAt(1234, direct) == 480)
      assert(bytes(direct, 20, 480) == data.slice(1234, 1714).toSeq)
      // a short read at the end of the file, then end of stream
      for (b <- Seq(java.nio.ByteBuffer.allocate(100),
          java.nio.ByteBuffer.allocateDirect(100))) {
        assert(readAt(data.length - 7L, b) == 7)
        assert(b.position() == 7 && b.remaining() == 93)
        assert(bytes(b, 0, 7) == data.takeRight(7).toSeq)
        assert(ch.read(b) == -1)
      }
    } finally ch.close()
  }
}
