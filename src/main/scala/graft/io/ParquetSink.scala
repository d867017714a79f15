package graft.io

import org.apache.spark.sql.DataFrame

/** Parquet sink (SURVEY §2.1 S8): every compiled reference command targets
  * Parquet (`"command": "hot.Parquet"`, `run_annotate.py:188`, `:228`).
  *
  * Default is directory-parquet with the natural partitioning of the plan
  * — the scalable layout. `singleFile` reproduces the reference's
  * one-file-per-target shape via `coalesce(1)`; it is a compat mode only
  * (anti-scale: one task writes everything) and deliberately NOT the
  * default.
  */
object ParquetSink {

  /** Snappy-compressed, overwriting `target`. */
  def write(df: DataFrame, target: String,
            singleFile: Boolean = false): Unit =
    (if (singleFile) df.coalesce(1) else df)
      .write.mode("overwrite").option("compression", "snappy")
      .parquet(target)
}
