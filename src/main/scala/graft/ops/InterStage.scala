package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-JVM inter-stage table materialization: write a stage output to a
  * session-temp parquet once, read it back many times.
  *
  * This replaces `persist()` inside query builders for three reasons:
  *   - nothing stays in the Spark block cache after a query runs, so
  *     library callers can't leak cached blocks (persist-without-unpersist
  *     was the round-2 hazard);
  *   - the same stage output is shared across queries in one session — the
  *     shingle inverted index feeds both the Jaccard and the MinHash dedup
  *     passes, and is computed once;
  *   - at cluster scale this is exactly how a multi-stage dedup pipeline
  *     runs: each stage writes a table, downstream stages scan it with
  *     column pruning and filter pushdown (which in-memory persist can't do).
  *
  * The temp root lives for the JVM and is removed by a shutdown hook.
  */
object InterStage {

  /** Recursive local delete — the one copy (scratch hooks, consumed-CSV
    * pruning in `PipelineDemo --chunks`) instead of one per call site. */
  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively)); f.delete(); ()
  }

  private lazy val root: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_interstage_")
    sys.addShutdownHook { deleteRecursively(p.toFile) }
    p
  }

  private val done = scala.collection.concurrent.TrieMap.empty[String, String]
  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  // Build accounting (test seam): every ACTUAL thunk execution is logged
  // as (key, thread id, start nanos, end nanos). This is what pins the r14
  // materialize-phase halving as an invariant instead of a happy accident:
  // the overlap spec asserts the shared vector base builds exactly once
  // per corpus and that ITS OWN branch builds' intervals overlap in time —
  // scoped per key filter, so another suite's concurrency can never
  // satisfy the assertion vacuously (a JVM-global in-flight high-water
  // mark could). A change that re-serializes the chains or double-builds
  // the base fails the spec, not just the bench number.
  // Capped drop-oldest: a long-lived process whose corpora keep changing
  // (content-fingerprinted keys mint new entries per rewrite) must not
  // accumulate accounting rows forever. 4096 covers any single test run's
  // window by orders of magnitude; each entry rides a parquet write, so
  // the O(n) size() probe on a <=4096 queue is noise.
  private val buildLogMax = 4096
  private val buildLog =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long, Long)]

  private[graft] def buildEvents(keyFilter: String => Boolean)
      : Seq[(String, Long, Long, Long)] = {
    val b = Seq.newBuilder[(String, Long, Long, Long)]
    buildLog.forEach(e => if (keyFilter(e._1)) b += e)
    b.result()
  }

  /** Scratch directory with the same JVM lifecycle as the temp root:
    * removed by a shutdown hook. For write-path gates and staging copies —
    * per-call `createTempDirectory` without a hook piles abandoned table
    * copies into /tmp (Bench runs every gate three times per invocation).
    */
  private val scratch = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  locally {
    sys.addShutdownHook { scratch.forEach(p => deleteRecursively(p.toFile)) }
    ()
  }
  def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    scratch.add(p)
    p.toString
  }

  /** Cache key for a stage derived from `dir/table.parquet` that changes
    * when the source file changes — fixture dirs that rewrite their parquet
    * between runs re-materialize instead of serving stale data. A missing
    * source fails fast (a silent `@0:0` key would look valid), and the key
    * includes a head+tail content fingerprint so a rewrite within mtime
    * resolution at identical byte length is still detected.
    */
  def tableKey(dir: String, table: String): String = {
    val f = new java.io.File(s"$dir/$table.parquet")
    require(f.exists, s"InterStage source does not exist: ${f.getPath}")
    s"$dir/$table@${f.lastModified}:${f.length}:${fingerprint(f)}"
  }

  /** Cheap content fingerprint: sha-256 of the first and last 8 KiB of a
    * file (parquet footers — where row-group offsets and statistics live —
    * change on any rewrite), or of the child name:length:mtime listing for
    * a directory-style parquet.
    */
  private def fingerprint(f: java.io.File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    if (f.isFile) {
      val raf = new java.io.RandomAccessFile(f, "r")
      try {
        val n = math.min(8192L, raf.length).toInt
        val buf = new Array[Byte](n)
        raf.readFully(buf); md.update(buf)
        raf.seek(math.max(0L, raf.length - n))
        raf.readFully(buf); md.update(buf)
      } finally raf.close()
    } else {
      Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName).foreach(c =>
        md.update(s"${c.getName}:${c.length}:${c.lastModified}".getBytes("UTF-8")))
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Materialize `df` under `key` if not already done this JVM; return a
    * reader over the parquet. `df` is by-name: never constructed on a hit.
    * Concurrent callers with DIFFERENT keys materialize in parallel (the
    * path suffix is an atomic counter, so no collision); same-key races
    * are benign — TrieMap may run the writer twice, both to valid paths,
    * and one wins the map.
    */
  def materialize(spark: SparkSession, key: String, df: => DataFrame): DataFrame = {
    val path = done.getOrElseUpdate(key, {
      val p = root.resolve(
        "t" + java.lang.Integer.toHexString(key.hashCode) + "_" +
          seq.getAndIncrement()).toString
      val t0 = System.nanoTime()
      try df.write.mode("overwrite").parquet(p)
      finally {
        buildLog.add(
          (key, Thread.currentThread().getId, t0, System.nanoTime()))
        while (buildLog.size > buildLogMax) buildLog.poll()
      }
      p
    })
    spark.read.parquet(path)
  }
}
