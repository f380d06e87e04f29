package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session temp views that one owner keeps bound to its own frames.
  *
  * A temp view is session-global: any caller may register the same name
  * over other rows. [[own]] rebinds only the names whose raw view entry
  * is no longer the one this owner bound (a replaced or dropped view is
  * a different entry), so while the views are its own a call writes
  * nothing to the catalog. `onBind(name)` runs after each binding. An
  * [[api.Engine]] and the contract's SQL door both bind through this one
  * rule, so whichever runs a query runs it over its own relations.
  */
private[graft] final class OwnedViews(spark: SparkSession,
    val frames: Map[String, DataFrame], onBind: String => Unit = _ => ()) {
  private val bound = scala.collection.mutable.Map.empty[String, AnyRef]

  private def entry(name: String): AnyRef =
    spark.sessionState.catalog.getRawTempView(name).orNull

  def own(): Unit = synchronized {
    frames.keys.foreach { name =>
      if (!bound.get(name).exists(_ eq entry(name))) {
        frames(name).createOrReplaceTempView(name)
        onBind(name)
        bound(name) = entry(name)
      }
    }
  }

  own()
}
