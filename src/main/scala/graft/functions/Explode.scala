package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, posexplode_outer}

/** `explode`/`posexplode` of a computed array column, with the array
  * computed once.
  *
  * For a non-outer explode of an attribute, Catalyst's
  * `InferFiltersFromGenerate` adds `size(arr) > 0 AND isnotnull(arr)`
  * below the Generate. Predicate pushdown then replaces the attribute with
  * the expression it aliases and moves the filter through projections and
  * `Scale.byKey`'s repartition into the scan stage. Where the array is an
  * n-gram or segment lambda, every row runs the lambda twice, the first
  * time in the one-task scan stage, before the exchange that spreads the
  * work.
  *
  * Both helpers plan `posexplode_outer` and keep the rows whose position
  * is not null. That is exactly explode's rows: a null or empty array
  * gives none, and a null element is kept. The filter is on a generated
  * column, so it cannot move below the Generate.
  */
object Explode {
  private val Pos = "__explode_pos"

  /** `df.select(keep :+ explode(arr).as(name): _*)`. */
  def values(df: DataFrame, arr: Column, name: String,
      keep: Column*): DataFrame =
    positions(df, arr, Pos, name, keep: _*).drop(Pos)

  /** `df.select(keep :+ posexplode(arr).as(Seq(pos, name)): _*)`. */
  def positions(df: DataFrame, arr: Column, pos: String, name: String,
      keep: Column*): DataFrame =
    df.select(keep :+ posexplode_outer(arr).as(Seq(pos, name)): _*)
      .filter(col(pos).isNotNull)
}
