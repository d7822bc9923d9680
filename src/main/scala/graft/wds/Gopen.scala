package graft.wds

import java.io.{FilterInputStream, IOException, InputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Shard-URL opener — the `gopen` scheme table (S8; reference
  * `webdataset/gopen.py:153-330`). Hadoop FS covers `file:`/`hdfs:`/
  * `s3a:`/`http:`; `pipe:command args…` runs the command in a shell and
  * streams its stdout, the reference's subprocess scheme
  * (`pipe:curl -s https://… | unzstd` style). Exit-status semantics
  * match gopen's Pipe: a nonzero exit raises, except SIGPIPE (141),
  * which just means the consumer stopped reading early — gopen's
  * default `ignore_status`. The status check fires at EOF as well as
  * close, so a failed producer (`pipe:false`) surfaces as a read error
  * routed through the shard-open handler policy instead of silently
  * yielding an empty shard. */
object Gopen {

  val SigPipeExit = 141

  /** `GOPEN_REWRITE` URL rewriting (reference `gopen.py:351-364`):
    * `;`-separated `regex=replacement` rules, each regex anchored at
    * the URL start; the FIRST rule that changes the URL wins, and the
    * result is NOT re-rewritten. Rules come from the `GOPEN_REWRITE`
    * env var (executors inherit it through the cluster's executor-env
    * config, the same channel the reference's workers use) or the
    * `graft.gopen.rewrite` system property (takes precedence; the
    * testable channel — JVM env is immutable in-process). Replacement
    * backrefs use Java `$1` syntax rather than Python's `\1`.
    * `GOPEN_VERBOSE`/`graft.gopen.verbose` = 1 logs each rewrite to
    * stderr like the reference. Scheme ALIASING (the reference's
    * `USE_AIS_FOR` hook) is expressed the same way — a rule like
    * `^gs://=s3a://` — or natively via Hadoop's `fs.<scheme>.impl`
    * configuration (see GopenSpec's gs:/ais: alias case). */
  def rewriteUrl(url: String): String = {
    val rules = sys.props.get("graft.gopen.rewrite")
      .orElse(sys.env.get("GOPEN_REWRITE"))
    rules match {
      case None => url
      case Some(rs) =>
        val verbose = sys.props.get("graft.gopen.verbose")
          .orElse(sys.env.get("GOPEN_VERBOSE"))
          .exists(v => v.nonEmpty && v != "0")
        rs.split(';').iterator
          .filter(_.contains("="))
          .map { r =>
            val kv = r.split("=", 2)
            url.replaceFirst("^" + kv(0), kv(1))
          }
          .find(_ != url) match {
          case Some(nurl) =>
            if (verbose) System.err.println(s"GOPEN REWRITE $url -> $nurl")
            nurl
          case None => url
        }
    }
  }

  private val SchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*):".r

  /** `GOPEN_SCHEMES` custom-scheme registration (reference
    * `gopen.py:331-350`: the `gopen_schemes` dispatch dict plus the
    * `USE_AIS_FOR` env hook that points listed protocols at the ais
    * handler). Spark-native spelling: `;`-separated `scheme=handler`
    * entries from the `GOPEN_SCHEMES` env var or the
    * `graft.gopen.schemes` sysprop (precedence; the testable channel):
    *
    *  - `scheme=pipe:command …` — subprocess handler; `{}` in the
    *    command expands to the full URL, `{path}` to the URL without
    *    its `scheme://` prefix (the gopen_curl/gopen_gsutil shape).
    *  - `scheme=other` — alias: the URL re-enters the open under the
    *    other scheme (ONE level, no re-aliasing), typically landing
    *    on a Hadoop `fs.<other>.impl` connector.
    *
    * `USE_AIS_FOR` / `graft.gopen.useAisFor` (colon-separated
    * protocols) is the reference's companion hook verbatim: each
    * listed protocol aliases to `ais`; explicit `GOPEN_SCHEMES`
    * entries win over it. */
  def schemeHandler(scheme: String): Option[String] = {
    val registered = sys.props.get("graft.gopen.schemes")
      .orElse(sys.env.get("GOPEN_SCHEMES"))
      .iterator.flatMap(_.split(';').iterator)
      .map(_.trim).filter(_.contains("="))
      .map { e => val kv = e.split("=", 2); kv(0) -> kv(1) }
      .toMap
    val aisFor = sys.props.get("graft.gopen.useAisFor")
      .orElse(sys.env.get("USE_AIS_FOR"))
      .iterator.flatMap(_.split(':').iterator).filter(_.nonEmpty)
      .map(_ -> "ais").toMap
    (aisFor ++ registered).get(scheme)
  }

  def open(url: String, conf: Configuration): InputStream =
    openResolved(rewriteUrl(url), conf, aliased = false)

  private def openResolved(u: String, conf: Configuration,
      aliased: Boolean): InputStream = {
    if (u.startsWith("pipe:")) openPipe(u.stripPrefix("pipe:"))
    else {
      val custom =
        if (aliased) None
        else SchemeRe.findFirstMatchIn(u).map(_.group(1))
          .flatMap(schemeHandler)
      custom match {
        case Some(h) if h.startsWith("pipe:") =>
          val scheme = SchemeRe.findFirstMatchIn(u).get.group(1)
          val rest = u.stripPrefix(scheme + "://") match {
            case same if same == u => u.stripPrefix(scheme + ":")
            case stripped => stripped
          }
          // single-quote the substituted URL: shard lists are data, and
          // a shard name containing $(...) or backticks must reach the
          // handler as an argument, never as shell syntax (the
          // reference's gopen_curl single-quotes its {} the same way).
          // Templates that already quote the placeholder ('{}', "{}")
          // get those quotes stripped first — otherwise the
          // gopen_curl-style `curl -s '{}'` would wrap our quoting in
          // a second layer and a URL with spaces would split into
          // shell words or carry literal quote characters.
          openPipe(substituteAll(h.stripPrefix("pipe:"),
            Seq("{path}" -> rest, "{}" -> u)))
        case Some(alias) =>
          val scheme = SchemeRe.findFirstMatchIn(u).get.group(1)
          openResolved(alias + u.stripPrefix(scheme), conf, aliased = true)
        case None =>
          val path = new Path(u)
          path.getFileSystem(conf).open(path)
      }
    }
  }

  /** Random-access variant of [[open]]: Some(channel) when the URL
    * resolves to a plain Hadoop-FS object (file:/hdfs:/s3a:/…), None
    * for `pipe:` and custom pipe-handler schemes, which are
    * producer-stream-only. A seekable channel lets a pruned tar scan
    * SEEK past unselected entry payloads instead of reading them
    * through (commons-io's skip — what the streaming tar reader
    * bottoms out in — deliberately reads every skipped byte). Scheme
    * aliases resolve exactly as [[open]] does. */
  def openSeekable(url: String, conf: Configuration, minLen: Long = 0L)
      : Option[java.nio.channels.SeekableByteChannel] =
    seekableResolved(rewriteUrl(url), conf, aliased = false, minLen)

  private def seekableResolved(u: String, conf: Configuration,
      aliased: Boolean, minLen: Long)
      : Option[java.nio.channels.SeekableByteChannel] = {
    if (u.startsWith("pipe:")) None
    else {
      val custom =
        if (aliased) None
        else SchemeRe.findFirstMatchIn(u).map(_.group(1))
          .flatMap(schemeHandler)
      custom match {
        case Some(h) if h.startsWith("pipe:") => None
        case Some(alias) =>
          val scheme = SchemeRe.findFirstMatchIn(u).get.group(1)
          seekableResolved(alias + u.stripPrefix(scheme), conf,
            aliased = true, minLen)
        case None =>
          val path = new Path(u)
          val fs = path.getFileSystem(conf)
          val len = fs.getFileStatus(path).getLen
          // an FS that cannot report a real length (Hadoop's http fs
          // returns 0) cannot serve a random-access scan, and a shard
          // under the caller's seek threshold streams — both decided
          // from the status alone, BEFORE paying an open
          if (len <= 0 || len < minLen) None
          // 4 KB read buffer, not the FS default (64 KB): a pruned
          // scan's access pattern is many small reads at seek
          // discontinuities, and the buffered stream refills a full
          // buffer at each one — with the default, a shard of
          // hundreds of small kept entries reads MORE through seeks
          // than a single sequential pass (measured: wds11 +26% before
          // this). Sequential header runs still coalesce at 4 KB.
          else Some(new FsSeekableChannel(fs.open(path, 4096), len))
      }
    }
  }

  /** [[java.nio.channels.SeekableByteChannel]] over an FS stream.
    * Position is tracked locally and the stream seeks LAZILY at read —
    * positioning at/past EOF never touches the FS (some FS streams
    * throw on seek(len)), it just makes the next read return -1. */
  private final class FsSeekableChannel(
      in: org.apache.hadoop.fs.FSDataInputStream, length: Long)
      extends java.nio.channels.SeekableByteChannel {
    private var pos = 0L
    private var open = true
    override def read(dst: java.nio.ByteBuffer): Int =
      if (pos >= length) -1
      else {
        if (in.getPos != pos) in.seek(pos)
        val want = math.min(dst.remaining().toLong, length - pos).toInt
        // a heap buffer (TarFile wraps its entry arrays) is read into
        // in place; a direct one goes through a copy
        val n =
          if (dst.hasArray) {
            val read =
              in.read(dst.array(), dst.arrayOffset + dst.position(), want)
            if (read > 0) dst.position(dst.position() + read)
            read
          } else {
            val buf = new Array[Byte](want)
            val read = in.read(buf, 0, want)
            if (read > 0) dst.put(buf, 0, read)
            read
          }
        if (n > 0) pos += n
        n
      }
    override def write(src: java.nio.ByteBuffer): Int =
      throw new java.nio.channels.NonWritableChannelException
    override def position(): Long = pos
    override def position(newPosition: Long)
        : java.nio.channels.SeekableByteChannel = {
      require(newPosition >= 0, s"position $newPosition")
      pos = newPosition
      this
    }
    override def size(): Long = length
    override def truncate(size: Long): java.nio.channels.SeekableByteChannel =
      throw new java.nio.channels.NonWritableChannelException
    override def isOpen: Boolean = open
    override def close(): Unit = { open = false; in.close() }
  }

  /** POSIX single-quote escaping: `'` closes, `\'` emits, `'` reopens. */
  private[wds] def shellQuote(s: String): String =
    "'" + s.replace("'", "'\\''") + "'"

  /** SIMULTANEOUS substitution of several placeholders: the template
    * is tokenized on the placeholders FIRST, then values are inserted
    * shell-quoted. Sequential `.replace` chains would re-scan already
    * substituted values — a shard path containing a literal `{}`
    * would have the full URL spliced into its own middle by the
    * second pass. Values are data; they are never re-scanned. Any
    * single/double quotes the template author already put immediately
    * around a placeholder (`'{}'`, `"{}"`) are absorbed, so each
    * substitution is always exactly one quoted shell word. */
  private[wds] def substituteAll(template: String,
      subs: Seq[(String, String)]): String = {
    val absorbed = subs.foldLeft(template) { case (t, (p, _)) =>
      t.replace("'" + p + "'", p).replace("\"" + p + "\"", p)
    }
    // longest placeholder first so "{path}" is split out before "{}"
    def expand(s: String, rest: List[(String, String)]): String =
      rest match {
        case Nil => s
        case (p, v) :: tail =>
          s.split(java.util.regex.Pattern.quote(p), -1)
            .map(seg => expand(seg, tail))
            .mkString(shellQuote(v))
      }
    expand(absorbed, subs.sortBy(-_._1.length).toList)
  }

  def openPipe(cmd: String): InputStream = {
    val pb = new ProcessBuilder("/bin/sh", "-c", cmd)
    // stderr must not back-pressure the producer: an unread stderr pipe
    // fills at ~64 KB and deadlocks a chatty command (curl -v …) with
    // the task blocked in read(). INHERIT streams it to the executor
    // log, where the reference's subprocess stderr also lands.
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val proc = pb.start()
    proc.getOutputStream.close() // no stdin; producer-only
    new FilterInputStream(proc.getInputStream) {
      private var checked = false
      private def checkStatus(): Unit = if (!checked) {
        checked = true
        // bounded: a producer that closed stdout but wedged in cleanup
        // must not hang the task at EOF
        if (!proc.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)) {
          proc.destroyForcibly()
          proc.waitFor()
          throw new IOException(
            s"pipe: command still running 10s after EOF, killed: $cmd")
        }
        val code = proc.exitValue()
        if (code != 0 && code != SigPipeExit)
          throw new IOException(s"pipe: command exited $code: $cmd")
      }
      override def read(): Int = {
        val r = super.read()
        if (r < 0) checkStatus()
        r
      }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val r = super.read(b, off, len)
        if (r < 0) checkStatus()
        r
      }
      override def close(): Unit =
        if (checked) super.close() // EOF path already validated status
        else {
          // early close: the reader abandoned the stream — terminate
          // the producer and ignore its status (it dies of SIGPIPE/
          // SIGTERM because WE stopped, not because the data is bad);
          // escalate to SIGKILL rather than hang a task on a stubborn
          // producer
          checked = true
          proc.destroy()
          super.close()
          if (!proc.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)) {
            proc.destroyForcibly()
            proc.waitFor()
          }
          ()
        }
    }
  }
}
