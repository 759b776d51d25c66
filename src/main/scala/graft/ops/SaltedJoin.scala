package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-resistant equi join for a LARGE skewed fact side against a
  * SMALL-but-not-broadcastable dimension side. A plain shuffle join
  * sends every row of a hot key to one task; salting appends a salt
  * component to the join key — the fact side derives its salt from a
  * ROW-LOCAL value (`monotonically_increasing_id()` hashed onto the
  * salt range), and the dimension side explodes into `salts` copies so
  * every salted fact key still finds its match. The result is
  * row-identical to the plain join; only the shuffle layout changes
  * (hot key fan-out: 1 task → `salts` tasks).
  *
  * Why row-local and not `spark_partition_id()`: a partition-derived
  * salt gives a hot key at most as many distinct salts as the input
  * partitions it spans — with a single-partition fact input (the
  * narrow-input pattern the project docs warn about) it silently
  * no-ops and the hot key still lands on one task. The row id varies
  * WITHIN a partition, so the fan-out holds regardless of input
  * layout. Join correctness never depends on which salt a row gets
  * (every salt value has a matching dim copy), so the salt source
  * only has to be cheap and well-spread, not stable across retries.
  *
  * This is the MANUAL form of what AQE skew-join does at runtime
  * (AqeSkewSpec pins that path); it exists for the cases AQE can't
  * reach — skew hidden behind a cached/streaming boundary, or a
  * deliberately static plan. `salts` multiplies the dimension side's
  * shuffle volume, so size it to the hot-key fan-out needed, not to
  * cluster width.
  */
object SaltedJoin {

  /** Inner equi join of `fact` and `dim` on `key` with a salted
    * shuffle. Both inputs must carry the column `key`; `dim`'s other
    * column names must not collide with `fact`'s. */
  def inner(fact: DataFrame, dim: DataFrame, key: String, salts: Int): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    val f = fact.withColumn("_salt", pmod(hash(monotonically_increasing_id()), lit(salts)))
    val d = dim.withColumn("_salt", explode(sequence(lit(0), lit(salts - 1))))
    f.join(d, Seq(key, "_salt")).drop("_salt")
  }
}
