package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Parent/child relational operators — the reference's "jointure" stage and
  * the serving-side expansions.
  *
  * Scale notes: the child aggregation (A1) is a hash aggregate with map-side
  * partial aggregation; the enrich join (J1) is 1:≤1 after grouping, so
  * Catalyst/AQE picks broadcast-hash when the grouped side is small and
  * sort-merge otherwise. Neither needs a hint at 100 TB — the shuffle is on
  * the join key only.
  */
object Relate {

  /** A1 — group children by parent key, collecting child ids into a
    * deterministic (sorted) array (reference: REDDIT-jointure.py:67-68 uses
    * bare collect_list, whose order is nondeterministic — we sort, per
    * SURVEY.md §7.4). */
  def collectChildIds(parentKey: String, childId: String, outCol: String)(
      children: DataFrame): DataFrame =
    children.groupBy(col(parentKey))
      .agg(array_sort(collect_list(col(childId))).as(outCol))

  /** A1 variant emitting a CSV string of sorted child ids plus a count —
    * string form is hash-stable across engines for the DuckDB oracle. */
  def collectChildIdsCsv(parentKey: String, childId: String, idsCol: String,
      countCol: String)(children: DataFrame): DataFrame =
    children.groupBy(col(parentKey))
      .agg(
        array_join(transform(array_sort(collect_list(col(childId))),
          x => x.cast("string")), ",").as(idsCol),
        count(lit(1)).as(countCol))

  /** J1 — left-enrich parents with the grouped child table on
    * parent(key) == grouped(childParentKey), dropping the duplicate key
    * (reference: REDDIT-jointure.py:71-75). */
  def enrich(parents: DataFrame, grouped: DataFrame, parentKey: String,
      childParentKey: String): DataFrame =
    parents.join(grouped, parents(parentKey) === grouped(childParentKey), "left")
      .drop(grouped(childParentKey))

  /** J2 — semi-join membership filter: keep children whose key appears in
    * `ids` (reference: PLATFORM-GenerationLLM.py:163-164 does a driver-side
    * isin; left_semi is the distributed form). */
  def semiJoin(children: DataFrame, ids: DataFrame, key: String): DataFrame =
    children.join(ids, Seq(key), "left_semi")

  /** J3/O12 — per-row co-cluster neighbor list: members of my cluster,
    * self excluded, capped at `cap`, noise cluster (-1) → empty array
    * (reference: PLATFORM-contextual-Chunking.py:97-114). Pure relational:
    * one groupBy on the cluster id + a re-join on the same key.
    *
    * Noise rows are filtered out BEFORE the aggregation: on a high-noise
    * corpus the -1 label would otherwise concentrate most rows into a
    * single collect_list key (skew/OOM at scale). They re-acquire an empty
    * neighbor list via the left join's null side instead.
    */
  def clusterNeighbors(df: DataFrame, idCol: String, clusterCol: String,
      outCol: String, cap: Int, noiseLabel: Int = -1): DataFrame = {
    // empty array typed to the id column's element type (string AND numeric)
    val emptyIds =
      array().cast(org.apache.spark.sql.types.ArrayType(df.schema(idCol).dataType))
    val members = df.filter(col(clusterCol) =!= noiseLabel)
      .groupBy(col(clusterCol))
      .agg(array_sort(collect_list(col(idCol))).as("__members"))
    df.join(members, Seq(clusterCol), "left")
      .withColumn(outCol,
        slice(array_remove(coalesce(col("__members"), emptyIds), col(idCol)), 1, cap))
      .drop("__members")
  }
}
