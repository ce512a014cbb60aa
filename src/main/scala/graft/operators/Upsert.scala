package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.sources.Tables

/** Delta-style MERGE upsert rewritten for plain Spark (SURVEY.md §2a S7, §2c J5).
  *
  * Reference: `MERGE INTO silver USING updates ON t.event_id = s.event_id
  * WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`
  * (`04_silver_transformation.py:196-202`). With no Delta log available, the
  * same semantics are an anti-join + union: rows of the target whose key does
  * not appear in the updates, plus all update rows.
  *
  * Scale: the anti-join shuffles on the key unless the updates side is small
  * enough to broadcast — which is the common CDC case (daily increment ≪
  * accumulated table), and AQE converts to broadcast automatically at
  * runtime. Updates must be unique per key (dedup upstream) or the "UPDATE
  * SET *" would be ambiguous — same constraint Delta MERGE enforces.
  */
object Upsert {

  // a left-anti join ignores duplicate keys on its right side, so the key
  // side of the anti-joins below is not deduplicated first
  def upsert(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    target
      .join(updates.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(updates)

  /** [[upsert]] `updates` into the parquet table at `path` and write the
    * result back as ONE commit that replaces the files it read
    * (hive-partitioned by `partitionBy`). Only a table whose log holds
    * no entry is a first write: a crashed earlier rewrite left no entry
    * and so cannot truncate the table to the new batch. Returns the rows
    * of the rewritten table, as its commit observed them.
    */
  def upsertInto(updates: DataFrame, path: String, keys: Seq[String],
      partitionBy: Seq[String] = Nil): Long = {
    val t = Tables.at(updates.sparkSession, path)
    var rows = 0L
    Tables.commit(t.snap, "merge") { tx =>
      tx.remove(t.tree)
      rows = tx.put(t, if (!t.exists) updates
        else upsert(t.df.select(updates.columns.toIndexedSeq.map(col): _*),
          updates, keys), partitionBy)
    }
    rows
  }

  /** [[upsert]] with automatic schema evolution — Delta's
    * `mergeSchema`/`autoMerge` behavior: updates may ADD columns (target
    * survivors read null there) and may omit target columns (update rows
    * read null there). Delta guards evolution behind a flag because a
    * typo'd column silently widens the table; callers here opt in by
    * choosing this variant, and [[upsert]] stays strict.
    */
  def upsertEvolve(target: DataFrame, updates: DataFrame,
      keys: Seq[String]): DataFrame =
    target
      .join(updates.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(updates, allowMissingColumns = true)

  /** Full MERGE with a tombstone flag — `WHEN MATCHED AND s.deleted THEN
    * DELETE / WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED AND NOT deleted
    * THEN INSERT` — the CDC-feed shape (Debezium-style change rows).
    * Tombstoned keys vanish from the result; a tombstone for an absent
    * key is a no-op, so replaying a feed is idempotent.
    *
    * @param tombstoneCol boolean column on `updates`; it is dropped from
    *                     the survivors before the union
    */
  def merge(target: DataFrame, updates: DataFrame, keys: Seq[String],
      tombstoneCol: String): DataFrame = {
    val live = updates.filter(!col(tombstoneCol)).drop(tombstoneCol)
    // one anti-join against ALL changed keys: updates replace, tombstones
    // remove — either way the target's old row must not survive
    target
      .join(updates.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(live)
  }
}
