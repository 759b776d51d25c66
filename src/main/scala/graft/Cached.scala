package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** How an operator holds an intermediate and hands back a forced result.
  * The one storage level lives here; operators never name one.
  *
  * Operators return lazily-consumed DataFrames, so an intermediate they
  * cached cannot be released on return. [[result]] forces the (small)
  * final frame into its own cache instead, which lets every upstream
  * cache go at once. The caller owns the returned frame and may
  * `unpersist()` it when done. */
object Cached {

  /** Persists `df` at the one storage level (lazy: the first job that
    * reads it fills the cache). */
  def keep(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)

  /** Keeps `df`, forces it with one `count()`, releases `release`
    * (non-blocking) and returns it. If the forcing job throws, `df` is
    * released too before the exception propagates, so the failure
    * leaves neither `df` nor the released frames cached. */
  def result(df: DataFrame, release: DataFrame*): DataFrame = {
    val out = keep(df)
    try out.count()
    catch { case t: Throwable => out.unpersist(false); throw t }
    finally release.foreach(_.unpersist(false))
    out
  }
}

/** The session's caches, scrubbed between independent measurements. */
object SessionCaches {

  /** Drops every cached frame and every persisted RDD (operators'
    * `localCheckpoint`s are RDD blocks outside the CacheManager) and
    * returns how many there were. The CacheManager entries are counted
    * before the clear: clearing unpersists their RDDs, so an RDD count
    * taken afterwards would never see a leaked cached frame.
    * (`numCachedEntries` is private[sql] to Scala but a public JVM
    * method, hence the reflective call.) */
  def scrub(spark: SparkSession): Int = {
    val cm = spark.sharedState.cacheManager
    val frames = cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
    spark.catalog.clearCache()
    val leftovers = spark.sparkContext.getPersistentRDDs
    leftovers.valuesIterator.foreach(_.unpersist(blocking = false))
    frames + leftovers.size
  }
}
