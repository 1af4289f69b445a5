package graft.runtime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** Tombstones of a maintained index: the FULL list of deleted ids,
  * rewritten per generation to `deleted/gen-N` and named by the
  * manifest's `deleted` entry. One manifest resolution therefore gives a
  * reader a consistent (artifacts, tombstones) pair; appending to a live
  * tombstone dir could tear exactly that pairing. Delete traffic is
  * small by contract, so readers apply the list as a broadcast anti-join,
  * which keeps a bucketed corpus-side scan exchange-free. Physical
  * removal is the family's compaction or rebuild, which drops the entry.
  */
object Tombstones {

  /** The read-side filter of generation `m`, reading its list once:
    * `minus(df, c)` drops every row of `df` whose column `c` names a
    * tombstoned id (the list's own id column is `idCol`), and is the
    * identity when `m` has no tombstones.
    */
  def filter(s: SparkSession, dir: String, m: IndexManifest,
      idCol: String): (DataFrame, String) => DataFrame =
    m.pathOpt("deleted").map(rel => broadcast(s.read.parquet(s"$dir/$rel"))) match {
      case None => (df, _) => df
      // re-select the original order: a USING-key anti-join moves the key
      // column first, which would silently swap (a_id, b_id) in a pair
      // artifact for positional consumers
      case Some(d) => (df, c) =>
        df.join(d.withColumnRenamed(idCol, c), Seq(c), "left_anti")
          .select(df.columns.map(col).toIndexedSeq: _*)
    }

  /** Write the tombstone list of the generation after `m`: its previous
    * list ∪ the `idCol` ids of `deleted`, distinct and checkpointed, to
    * `deleted/gen-(m.gen + 1)`. Returns that relative path, the value of
    * the next manifest's `deleted` entry.
    */
  def write(s: SparkSession, dir: String, m: IndexManifest, deleted: DataFrame,
      idCol: String): String = {
    val del = deleted.select(col(idCol).cast("long").as(idCol))
    val rel = s"deleted/gen-${m.gen + 1}"
    m.pathOpt("deleted")
      .map(prev => s.read.parquet(s"$dir/$prev").unionByName(del).distinct())
      .getOrElse(del)
      .transform(Ckpt.eager)
      .write.mode("overwrite").parquet(s"$dir/$rel")
    rel
  }
}
