package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Run-local uniqueness enforcement with the reference's exact semantics
  * (reference: sdk/src/ETLTask.php:31-53):
  *
  *  - **first-occurrence-wins** — rows are processed in cursor order; the
  *    first row holding a key value survives, later holders are dropped;
  *  - **trim-insensitive string keys** — the reference trims string values
  *    before caching because "SQL considers 'A ' === 'A'"
  *    (ETLTask.php:50-52); numeric values compare as-is;
  *  - **per-column OR semantics** — each unique column is an independent
  *    dedup constraint (the reference keeps one cache per column and skips a
  *    row when ANY of its unique-column values was seen).
  *
  * The original (untrimmed) values are preserved in the output; trimming is
  * only a comparison normalization.
  *
  * Documented divergence: the reference's `in_array` uses PHP loose
  * comparison, so numeric-looking strings compare numerically ("1.0" is a
  * duplicate of "1" — sdk/src/ETLTask.php:46). We compare strings exactly
  * (after trim): replicating PHP type juggling would silently merge
  * distinct keys like "1e3" and "1000".
  *
  * Scale note: this is a window/shuffle per key column, fully distributed —
  * no driver-side sets (unlike the reference's in-memory `$cache`). At
  * 100 TB the shuffle is hash-partitioned on the key, which is the minimal
  * data movement any exact dedup needs.
  */
object Dedup {

  /** Comparison-normalized key: trim strings, leave other types untouched. */
  def normKey(df: DataFrame, key: String): Column = {
    val isString = df.schema(key).dataType == StringType
    if (isString) trim(col(key)) else col(key)
  }

  /** First-wins dedup on a single key. `order` defines "first" — pass an
    * explicit ordering column for strict reference parity (cursor order);
    * driver queries use a stable id column.
    */
  def firstWins(df: DataFrame, key: String, order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(normKey(df, key)).orderBy(order: _*)
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }

  /** Sequential per-column dedup, replicating the reference's cache
    * interaction exactly: a row dropped by an earlier key column never
    * claims values for later key columns, while a row that passes earlier
    * columns claims those values even if a later column drops it. An
    * empty key list returns `df` unchanged.
    *
    * With a `dest`ination, its existing key values fold into the same
    * per-column pass — the reference interleaves the destination-exists
    * probe with the run cache inside one per-column loop
    * (sdk/src/ETLTask.php:46: `$this->to->exists(...) || in_array(...)`
    * breaks BEFORE caching), so a row dropped at column k claims the values
    * of EARLIER columns only, never its later-column values. Sequencing the
    * full dedup before one combined anti-join gets that wrong: with
    * unique=[k1,k2], a row whose k1 already exists in the destination would
    * still win the k2 dedup and wrongly shadow a later row sharing only k2.
    *
    * Shape per column: [[AntiDestination.dropExisting]] against the
    * destination's trimmed key column, then the first-wins window over the
    * survivors. The window costs one hash exchange on the key. The
    * destination keys are broadcast; when they are too large to broadcast,
    * the join shuffles both sides on the trimmed key and the window reuses
    * that partitioning.
    */
  def firstWinsAny(df: DataFrame, keys: Seq[String], order: Seq[Column],
                   dest: Option[DataFrame] = None): DataFrame =
    keys.foldLeft(df) { (d, k) =>
      firstWins(dest.fold(d)(AntiDestination.dropExisting(d, _, k)), k,
        order)
    }
}
