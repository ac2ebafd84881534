package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned artifact directories with an atomic `latest` pointer —
  * the concurrency upgrade of the staged-swap device every persisted
  * index in the library uses (CountMin q178, histogram q175, MinHash
  * bands q87/q145, graph tables q130, fitted scaler q139, language
  * model q180).
  *
  * The staged swap (`write _staging` → `delete live` → `rename`)
  * keeps a SINGLE reader-or-writer safe but has a documented
  * no-concurrent-append/probe caveat: a probe that opens the live
  * directory while an append is between `delete` and `rename` sees
  * nothing. Versioned layout removes it:
  *
  *   base/v1/…           immutable once published
  *   base/v2/…
  *   base/_latest        one-line pointer file: "v2"
  *
  * [[publishVersion]] writes the NEXT version directory completely,
  * then repoints `_latest`. A concurrent [[latestDir]] resolves either
  * the old or the new version — both fully-written — never a partial.
  * Crash safety: a crash mid-write leaves an orphan `v(k+1)` the next
  * publish overwrites; a crash between pointer delete and rename
  * leaves no pointer, and [[latestDir]] falls back to the
  * highest-numbered COMPLETE version (marked by the `_PUBLISHED`
  * sentinel written as the version's last file — a bare `vK` dir
  * without it is an unfinished write and is never resolved).
  * Only the latest `keepVersions` versions are retained (older ones
  * deleted AFTER the pointer moves — a reader that resolved them
  * before the move is the same read-during-delete race a plain swap
  * has, but here the window is `keepVersions − 1` publishes wide
  * instead of zero).
  */
object Artifacts {

  private val PTR = "_latest"
  private val DONE = "_PUBLISHED"

  // Resolve the filesystem FROM the base path, not the default FS:
  // an artifact base on a non-default scheme (s3a://, hdfs:// while
  // the default is file://) must have its pointer/sentinel/delete ops
  // land on the same FS Spark writes the data to.
  private def fs(spark: SparkSession, base: String): FileSystem =
    new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionOf(name: String): Option[Int] =
    if (name.length > 1 && name.charAt(0) == 'v' &&
        name.drop(1).forall(_.isDigit))
      name.drop(1).toIntOption // overflow-length digit runs are not versions
    else None

  private def pointerVersion(h: FileSystem, base: String): Option[Int] = {
    val p = new Path(s"$base/$PTR")
    if (!h.exists(p)) None
    else {
      val in = h.open(p)
      try {
        // read to EOF: a single read() may legally return a short count
        // on chunked/remote filesystems, which would parse as garbage
        // and silently defeat the pointer.
        val buf = new Array[Byte](64)
        var n = 0
        var r = in.read(buf, 0, buf.length)
        while (r > 0 && n < buf.length) { n += r; r = in.read(buf, n, buf.length - n) }
        versionOf(new String(buf, 0, n, "UTF-8").trim)
      } finally in.close()
    }
  }

  private def completedVersions(h: FileSystem, base: String): Seq[Int] = {
    val b = new Path(base)
    if (!h.exists(b)) Seq.empty
    else h.listStatus(b).toSeq
      .filter(_.isDirectory)
      .flatMap(st => versionOf(st.getPath.getName))
      .filter(v => h.exists(new Path(s"$base/v$v/$DONE")))
      .sorted
  }

  /** All complete (sentinel-marked) versions at `base`, ascending —
    * for callers that keep shared state outside the version dirs
    * (e.g. IVF segment GC needs every live manifest). */
  def publishedVersions(spark: SparkSession, base: String): Seq[Int] =
    completedVersions(fs(spark, base), base)

  /** Highest published version, preferring the pointer (atomicity),
    * falling back to the sentinel scan (crash recovery). */
  def latestVersion(spark: SparkSession, base: String): Option[Int] = {
    val h = fs(spark, base)
    pointerVersion(h, base)
      .filter(v => h.exists(new Path(s"$base/v$v/$DONE")))
      .orElse(completedVersions(h, base).lastOption)
  }

  /** Directory of the latest published version — the path probes read.
    * Throws if nothing has been published at `base`, naming the missing
    * artifact as `what` ("no graph artifact at …"). */
  def latestDir(spark: SparkSession, base: String,
      what: String = "artifact"): String =
    latestVersion(spark, base) match {
      case Some(v) => s"$base/v$v"
      case None => throw new IllegalArgumentException(
        s"no $what at $base (no published artifact version)")
    }

  /** Publish the next version: `write` fills a fresh `v(k+1)`
    * directory, then the `_PUBLISHED` sentinel lands and the pointer
    * repoints. Readers resolving [[latestDir]] concurrently see either
    * version k or k+1, both complete. Old versions beyond
    * `keepVersions` are deleted last. Single-writer: concurrent
    * publishes to one `base` must be externally serialized (same
    * contract as any streaming sink's foreachBatch). */
  def publishVersion(spark: SparkSession, base: String,
      keepVersions: Int = 2)(write: String => Unit): String = {
    require(keepVersions >= 1, s"keepVersions must be >= 1")
    val h = fs(spark, base)
    val next = latestVersion(spark, base).getOrElse(0) + 1
    val vdir = s"$base/v$next"
    h.delete(new Path(vdir), true) // orphan of a crashed publish
    write(vdir)
    // sentinel last: the version is now complete and resolvable
    h.create(new Path(s"$vdir/$DONE"), true).close()
    // pointer swap (delete+rename: a crash between them falls back to
    // the sentinel scan, which already resolves vNext)
    val tmp = new Path(s"$base/._latest_tmp")
    val out = h.create(tmp, true)
    try out.write(s"v$next".getBytes("UTF-8")) finally out.close()
    val ptr = new Path(s"$base/$PTR")
    h.delete(ptr, false)
    require(h.rename(tmp, ptr), s"pointer rename failed at $base")
    completedVersions(h, base).dropRight(keepVersions)
      .foreach(v => h.delete(new Path(s"$base/v$v"), true))
    vdir
  }

  /** Inspection: one row per `vK` directory under `base` —
    * (version, published, files, bytes, is_latest). `published` is
    * false for an orphan of a crashed publish (no `_PUBLISHED`
    * sentinel); exactly one published row has `is_latest = true`.
    * Driver-side listing of a handful of version dirs — a lifecycle
    * debugging utility, not a query path. */
  def describe(spark: SparkSession, base: String): DataFrame = {
    import spark.implicits._
    val h = fs(spark, base)
    val b = new Path(base)
    val latest = latestVersion(spark, base)
    val rows =
      if (!h.exists(b)) Seq.empty[(Int, Boolean, Long, Long, Boolean)]
      else h.listStatus(b).toSeq
        .filter(_.isDirectory)
        .flatMap(st => versionOf(st.getPath.getName))
        .sorted
        .map { v =>
          val vp = new Path(s"$base/v$v")
          val pub = h.exists(new Path(s"$base/v$v/$DONE"))
          val sum = h.getContentSummary(vp)
          (v, pub, sum.getFileCount, sum.getLength, latest.contains(v))
        }
    rows.toDF("version", "published", "files", "bytes", "is_latest")
  }
}
