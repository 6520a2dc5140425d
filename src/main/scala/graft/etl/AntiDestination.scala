package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Set-based replacement for the reference's per-row destination existence
  * probe (`ReadOnlyTable::exists` — reference: sdk/src/SQLTable.php:52-79,
  * called once per candidate row per unique column from
  * sdk/src/ETLTask.php:46). One network round-trip per row becomes one
  * left-anti join per unique column.
  *
  * OR semantics across columns, matching the reference loop: a source row is
  * dropped when ANY of its unique-column values already exists in the
  * destination. String comparison is trim-insensitive on BOTH sides, like the
  * dedup cache.
  *
  * Scale note: the destination side of each anti join is its trimmed key
  * column, one value per destination row, never de-duplicated. When that
  * column is small Spark's JoinSelection broadcasts it and the source side
  * does not move; at 100 TB with a huge destination the join is a shuffled
  * hash or sort-merge join, whose own exchange moves the key column once.
  * A `distinct` first cannot shrink a column of unique keys; it would only
  * add an aggregate over the whole column and, when the keys are broadcast,
  * a hash exchange of its own.
  */
object AntiDestination {

  def apply(src: DataFrame, dst: DataFrame, keys: Seq[String]): DataFrame =
    keys.foldLeft(src)((d, k) => dropExisting(d, dst, k))

  /** Drop the rows of `src` whose trimmed `key` exists in `dst`. An anti
    * join only asks whether a match exists, so duplicate destination keys
    * cannot change its result and are not removed first; null keys never
    * match, so a null-keyed source row is kept.
    */
  def dropExisting(src: DataFrame, dst: DataFrame, key: String): DataFrame = {
    val dstKeys = dst.select(Dedup.normKey(dst, key).alias("__graft_dest_key"))
    src.join(dstKeys, Dedup.normKey(src, key) === col("__graft_dest_key"),
      "left_anti")
  }

  /** The dual guard: keep only rows whose key DOES exist in the destination
    * (the reference's probe-then-act insert-if-present branches, e.g.
    * sdk/migrate_assure_users.php:176-204).
    *
    * Unlike the anti join, this one de-duplicates the destination keys: a
    * guard's `dst` is usually a child table with many rows per key, and a
    * broadcast build side (`HashedRelationBroadcastMode`) stores every build
    * row, duplicates included, so the `distinct` keeps the broadcast
    * relation at one entry per key.
    */
  def semi(src: DataFrame, dst: DataFrame, keys: Seq[String]): DataFrame = {
    val dstKeys = dst.select(keys.map(k => Dedup.normKey(dst, k).alias(s"__graft_$k")): _*).distinct()
    val cond = keys.map(k => Dedup.normKey(src, k) === col(s"__graft_$k")).reduce(_ && _)
    src.join(dstKeys, cond, "left_semi")
  }
}
