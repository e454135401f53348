package graft.operators

import org.apache.spark.sql.SparkSession

/** Index-dial metadata shared by every materialized index (minhash band /
  * embedding ANN / IVF / decile boundaries / ...): a small properties file
  * written through the path's Hadoop filesystem (so hdfs://- and
  * s3a://-hosted indexes work and readers on other machines see it).
  * Readers are STRICT: serving at guessed dials zeroes the candidate join
  * silently, the exact failure the metadata exists to prevent.
  *
  * [[commit]] is the one writer protocol. Every build, append, compaction
  * and retrain runs through it, and the two steps it orders are private:
  *
  *  - invalidate FIRST: the meta file comes down before any data table is
  *    touched, so a build that dies mid-write leaves a meta-less dir,
  *    which readers refuse loudly. Without it an interrupted rebuild OVER
  *    AN EXISTING index would leave new tables paired with the OLD meta —
  *    a mixed index every completeness check and fingerprint would wave
  *    through.
  *  - meta LAST: meta presence IS the completeness marker. It also makes
  *    the rebuild race benign: a reader that starts mid-rebuild
  *    fingerprints the OLD meta, so when the new meta lands its next
  *    [[requireUnchanged]] fails loudly. (Meta-FIRST had the inverse race
  *    with no recovery: a reader starting during the build captured the
  *    NEW nonce over the OLD data and every later check passed, pinning
  *    stale data silently for the life of the query.)
  *
  * A writer's refusals (duplicate ids, empty input, anything that can
  * fail on bad input) run BEFORE its `commit`, so a refused write leaves
  * the index serving.
  */
private[graft] object IndexMeta {

  private def metaPath(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/meta.properties")

  /** Identity of the index BUILD, not just its dials: sorted meta content
    * (which includes the per-build `build_id` nonce [[write]] stamps, so
    * ANY rebuild — identical dials included, on any clock granularity —
    * changes the fingerprint) plus the meta file's (mtime, length) as a
    * second witness. Used by the streaming serving paths to fail loudly
    * instead of silently serving frames resolved from a replaced index.
    * Callers MUST capture the fingerprint BEFORE resolving the index
    * frames: captured after, a rebuild landing between resolve and
    * capture is permanently masked (the stale frames pass every check);
    * captured before, the same race fails the first batch loudly.
    */
  def fingerprint(spark: SparkSession, path: String): String = {
    val p = metaPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val props = read(spark, path, rebuildHint = "the index writer")
    val kv = {
      import scala.jdk.CollectionConverters._
      props.stringPropertyNames().asScala.toSeq.sorted
        .map(k => s"$k=${props.getProperty(k)}").mkString(";")
    }
    s"$kv@${st.getModificationTime}:${st.getLen}"
  }

  /** The restart-on-rebuild contract for streaming serving: a running
    * query resolved its dials and corpus frames ONCE at start; if the
    * index is rebuilt underneath it, the next micro-batch must fail with
    * this error (prompting a restart that re-resolves), never keep
    * serving a mixture of old plan and new files.
    */
  def requireUnchanged(spark: SparkSession, path: String, loadedFp: String): Unit = {
    val now = fingerprint(spark, path)
    if (now != loadedFp)
      throw new IllegalStateException(
        s"index at $path was rebuilt under a running streaming query " +
          s"(loaded '$loadedFp', found '$now'); restart the query to serve " +
          "the new index")
  }

  /** Commit one build of the index at `path`: invalidate the meta, run
    * `build` (which writes the data tables and returns the dials) inside
    * a [[graft.CacheScope]], so the frames it caches are freed when it
    * ends, then write the dials as the new meta with a fresh `build_id`.
    * If `build` throws, the dir is left meta-less and readers refuse it.
    */
  def commit(spark: SparkSession, path: String, comment: String)(
      build: => Seq[(String, String)]): Unit = {
    invalidate(spark, path)
    val kv = graft.CacheScope.run(build)
    write(spark, path, comment, kv)
  }

  private def invalidate(spark: SparkSession, path: String): Unit = {
    val p = metaPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, false)
    ()
  }

  private def write(spark: SparkSession, path: String, comment: String,
                    kv: Seq[(String, String)]): Unit = {
    val props = new java.util.Properties
    kv.foreach { case (k, v) => props.setProperty(k, v) }
    // unique per BUILD: makes the fingerprint change on every rebuild by
    // CONTENT, not just mtime — coarse-timestamp filesystems (1 s ticks on
    // ext3/NFSv3, second-granularity object stores) could otherwise miss
    // an identical-dials rebuild landing inside one tick
    props.setProperty("build_id", java.util.UUID.randomUUID().toString)
    val p = metaPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try props.store(out, comment) finally out.close()
  }

  def read(spark: SparkSession, path: String,
           rebuildHint: String): java.util.Properties = {
    val p = metaPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      throw new IllegalStateException(
        s"index at $path has no meta.properties — incomplete or foreign; " +
          s"rebuild with $rebuildHint")
    val props = new java.util.Properties
    val in = fs.open(p)
    try props.load(in) finally in.close()
    props
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = metaPath(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Build-once guard for the check-then-build sites (`if (!exists) write…`).
    *
    * Meta-last + invalidate-first close the READER races, but the bench
    * warmup pool runs sibling queries of one index CONCURRENTLY (q144 and
    * q145 both ensure the incremental BM25 index): two threads could both
    * observe no meta and both launch the build, racing two overwrite
    * write jobs into the same directory — observed outcome (r19): both
    * jobs' part-files committed side by side, every posting row
    * duplicated, and the doubled index then FAILED the q145 oracle while
    * q144 (whose df tables happened to land clean) passed. This
    * double-checked per-path monitor serializes builds within the JVM:
    * race losers block until the winner's meta lands, then skip. Builds
    * from separate JVMs remain the operator's responsibility (as before).
    */
  def ensure(spark: SparkSession, path: String)(build: => Unit): Unit = {
    if (exists(spark, path)) return
    // keyed by the QUALIFIED path: `file:/x` and `/x` name one directory,
    // and two raw-string keys would let both build into it at once
    val p = new org.apache.hadoop.fs.Path(path)
    val key = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
    val lock = buildLocks.computeIfAbsent(key, _ => new Object)
    lock.synchronized {
      if (!exists(spark, path)) build
    }
  }
}
