package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Every implemented operator, in SURVEY.md §2 inventory order. */
  def all: Seq[Q] = Relational.defs ++ Functions.defs ++ EngineOps.defs ++ Extensions.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The named queries in `all` order; an empty set selects every query.
    * An unknown name fails here, before any session work, so a typo is
    * never silently skipped. */
  def select(names: Set[String]): Seq[Q] = {
    val unknown = names -- all.map(_.name)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    if (names.isEmpty) all else all.filter(q => names(q.name))
  }
}
