package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.QueryRegistry

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `queries` entry is a deterministic, order-stable batch query over
  * the driver's parquet tables; every SQL-expressible one has a matching
  * DuckDB `oracleSql` with IDENTICAL output column names. Cross-engine
  * determinism rules used throughout:
  *   - aggregated doubles are `round(_, 2|4)` on BOTH sides so float
  *     summation order can't flip the hash compare;
  *   - timestamp bucketing is integer epoch-seconds math on BOTH sides
  *     (events.ts is nanos in parquet; Spark truncates to micros — raw
  *     timestamp output would hash-mismatch);
  *   - every ranking has a total tie-break order;
  *   - every result ends in ORDER BY.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The multi-way star join — a scale-representative plan (broadcast dims,
    * hash-partitioned fact joins), not one of the oracle-shape queries.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_multi_join")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2, derived from
    * [[QueryRegistry]] — add a query as a `QuerySpec` in its family file.
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryRegistry.all.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables; non-SQL-expressible ops have none. A `def`:
    * the BPE and unigram oracles embed what their query trained, so this
    * is read after the queries run (Verify's dump order).
    */
  def oracleSql: Map[String, String] =
    QueryRegistry.all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
