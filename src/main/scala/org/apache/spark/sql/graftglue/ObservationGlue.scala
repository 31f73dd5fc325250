package org.apache.spark.sql.graftglue

import org.apache.spark.sql.{Observation, Row}

/** Bridge into `private[sql]` Observation.getRowOrEmpty: Spark's own
  * bounded wait (100 ms) for an observation's metrics, empty if the
  * observed plan has not run. Lives inside the org.apache.spark.sql
  * package hierarchy purely to satisfy the access modifier; no Spark
  * internals are modified. */
object ObservationGlue {
  def rowOrEmpty(o: Observation): Option[Row] = o.getRowOrEmpty
}
