package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

/** The reference's dictionary-enrichment pattern (SURVEY.md §2.12): an
  * expensive per-value lookup (user-agent parser, GeoIP mmdb — both
  * opaque libraries, consumo_detalle.py:145-254) is run over DISTINCT
  * values only, then broadcast-joined back onto the fact.
  *
  * This is the one optimization Catalyst will not invent on its own: a
  * naive UDF would run the parser once per fact row; this runs it once
  * per distinct key (the reference's `unique()` trick) and keeps the hot
  * path join-only. At 100 TB the distinct() is a shuffle over the key
  * column alone; the enriched dictionary stays dimension-sized.
  */
object Enrich {

  /** Enrich `df` by `keyCol`: `fn` maps each distinct key to derived
    * values matching `outSchema` (a Row of extra columns). `fn` runs
    * distributed via mapPartitions — one call per distinct key, never
    * per fact row. Left join preserves unmatched facts.
    *
    * No broadcast hint: UA/IP dictionaries are dimension-sized, but a
    * high-cardinality key column would OOM the driver if hinted
    * unconditionally. The dictionary is materialized, so the planner
    * sees its real bytes (not schema defaultSize, which prices every
    * string at 20 bytes) and broadcasts it exactly when it fits the
    * session's autoBroadcastJoinThreshold.
    */
  def viaDistinct(df: DataFrame, keyCol: String, outSchema: StructType)
                 (fn: String => Row): DataFrame = {
    val spark = df.sparkSession
    val keyed = StructType(df.schema(keyCol) +: outSchema.fields)
    val dictRdd = df.select(keyCol).distinct().rdd
      .mapPartitions(_.map { r =>
        val k = r.getString(0)
        Row.fromSeq(k +: fn(k).toSeq)
      })
    // materialized: the lookup must run once per key total, not once per
    // downstream action — same reason the reference caches its parsed
    // UA/IP dictionaries in driver frames
    val dict = Materialize(spark.createDataFrame(dictRdd, keyed)).df
    df.join(dict, Seq(keyCol), "left")
  }
}
