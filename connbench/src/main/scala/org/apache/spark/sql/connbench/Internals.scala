package org.apache.spark.sql.connbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.TableCatalog

/** The two Spark internals the traced run needs, reached from inside
  * Spark's package: draining the listener bus (so task and job events of
  * an operation have arrived before its counters are read) and looking
  * up a registered catalog plugin by name.
  */
object Internals {
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  def tableCatalog(spark: SparkSession, name: String): TableCatalog =
    spark.sessionState.catalogManager.catalog(name).asInstanceOf[TableCatalog]
}
