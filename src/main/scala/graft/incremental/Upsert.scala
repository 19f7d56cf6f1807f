package graft.incremental

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Keyed upsert ("INSERT … ON CONFLICT (key) DO UPDATE", reference
  * etl_script_incremental_pandas.py:249-267) over immutable storage:
  * the incoming rows win on key collision, untouched rows survive.
  *
  * A left-anti join (SURVEY.md S5/J4): one shuffle or broadcast of
  * the delta's keys, so it suits an `incoming` small relative to
  * `existing`; [[SnapshotTable.merge]] is the file-pruned store twin.
  */
object Upsert {

  /** `incoming` replaces `existing` on equal `keys`. */
  def merge(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    existing.join(incoming.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(incoming)
}
