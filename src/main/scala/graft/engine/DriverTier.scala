package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftbridge.RelationBridge

/** The one gate of the operators' driver tiers: work bounded by a small
  * table runs on the driver when the table fits under the operator's own
  * row cap (sites: ARCHITECTURE.md, "Driver tiers").
  */
object DriverTier {

  /** `df`'s rows, or `None` past `maxRows` rows, in ONE job labelled
    * `label`: `coalesce(1).limit(maxRows + 1)` is the collect and the
    * gate, and stops its single task after `maxRows + 1` rows. Caps past
    * `Int.MaxValue - 1` collect everything.
    */
  def collect(df: DataFrame, maxRows: Long,
              label: String): Option[Array[InternalRow]] = {
    val cap = math.min(math.max(maxRows, -1L), Int.MaxValue - 1L)
    val rows = labeled(df, label) {
      RelationBridge.collectInternal(df.coalesce(1).limit((cap + 1).toInt))
    }
    if (rows.length > maxRows) None else Some(rows)
  }

  /** Label the Spark jobs `f` triggers (driver thread-local,
    * saved/restored); AQE's exchange jobs inherit it. Pure metadata.
    */
  def labeled[A](df: DataFrame, desc: String)(f: => A): A = {
    val sc = df.sparkSession.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try f finally sc.setJobDescription(prev)
  }
}
