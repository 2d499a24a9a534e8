package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The engine's cache layer on the Hadoop `FileSystem` API: where a cache
  * lives ([[cacheDir]]) and the one build-once rule every cache follows
  * ([[materialize]]). Existence checks go through Hadoop, so cache, index
  * and manifest gating work unchanged on HDFS/S3/local — the deployment
  * targets of the engine (a `java.io.File` check silently returns false on
  * any non-local URI and would rebuild caches forever).
  */
object Fs {

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** True iff `dir` holds a committed Spark write (its `_SUCCESS` marker). */
  def successExists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir, "_SUCCESS")
    fs(spark, p).exists(p)
  }

  /** The one build-once routine of the engine's caches: runs `build`
    * unless `dir` holds a committed write (its `_SUCCESS` marker), and
    * returns `dir`; `build` writes `dir` last. One JVM-wide, re-entrant
    * lock serializes the builds (`TokenTable.tokensWide`'s build reads
    * `tokens`); builders in separate JVMs sharing a root are not.
    */
  def materialize(spark: SparkSession, dir: String)(build: => Unit): String =
    synchronized {
      if (!successExists(spark, dir)) build
      dir
    }

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fs(spark, p).exists(p)
  }

  /** Directory tag of an input dir: every character outside
    * `[A-Za-z0-9.]` becomes `_`, so one flat cache root keys many inputs.
    */
  def dirTag(sfDir: String): String = sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** The one cache-location decision: `<root>/[<scope>/]<tag>_<suffix>`,
    * where root is `GRAFT_TOK_CACHE` (default `/tmp/graft_tok_cache`) and
    * tag is [[dirTag]] of the input dir. `scope` nests per-application
    * sinks that overwrite on every run (the application id) so concurrent
    * sessions sharing the root do not clobber each other.
    */
  def cacheDir(sfDir: String, suffix: String, scope: String = ""): String = {
    val root = sys.env.getOrElse("GRAFT_TOK_CACHE", "/tmp/graft_tok_cache")
    val scoped = if (scope.isEmpty) root else s"$root/$scope"
    s"$scoped/${dirTag(sfDir)}_$suffix"
  }

  /** Recursive delete (fixture/cache reset); no-op when absent. */
  def delete(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    fs(spark, p).delete(p, true)
  }
}
