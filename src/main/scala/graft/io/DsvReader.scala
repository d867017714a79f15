package graft.io

import graft.model.ReadOpts
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Delimited-text source with the reference's ingestion semantics
  * (`run_annotate.py:20-28`) re-expressed on Spark's CSV source:
  *
  *  - separator: per-source sniff (see [[Sniffer]]) unless pinned via
  *    `kwargs.read.sep` (`json/example/transform.json:17`);
  *  - schema: inferred (`inferSchema=true`), matching pandas inference —
  *    ints -> Long, decimals/NaN -> Double, else String. The reference's
  *    `pd.to_numeric(errors='coerce')` pass (`run_annotate.py:23-25`)
  *    applies only to columns already inferred numeric, so it is a no-op
  *    on values and needs no Spark counterpart;
  *  - nulls: empty cells and `NA`/`NaN` -> null (pandas default NA set,
  *    pinned explicitly — SURVEY §7.4.2);
  *  - gzip: transparent by extension (`run_annotate.py:259` allowlist);
  *  - column names: trim + lowercase + first-seen dedup
  *    (`run_annotate.py:47-49`), collisions suffixed `_2`, `_3`, ...
  *
  * One `spark.read` per source glob through [[DsvFormat]]. Full
  * inference is one job at plan build: split like the scan, each split
  * drops its file's own header line (files of one glob may spell the
  * header differently) and folds the rest into column types. The scan
  * then parallelizes per file/split; only the sniff and the header line
  * (a few KB) touch the driver.
  */
object DsvReader {

  /** pandas' default NA token set (subset): values parsed to null. `NA`
    * goes through the CSV option (so numeric inference still sees the
    * column as numeric); the rest are nulled in a post-projection over
    * string columns.
    */
  val NaTokens: Seq[String] =
    Seq("", "NA", "N/A", "n/a", "NaN", "nan", "NULL", "null", "None", "#N/A")

  /** Normalize names: trim+lower (`run_annotate.py:48`); duplicates get a
    * positional suffix (the reference silently merges dups only in its
    * global list — SURVEY §1.5 decision: keep both, disambiguated).
    */
  def normalizeNames(names: Seq[String]): Seq[String] = {
    val seen = scala.collection.mutable.Map.empty[String, Int]
    names.map { raw =>
      val n = raw.trim.toLowerCase
      val k = seen.getOrElse(n, 0) + 1
      seen(n) = k
      if (k == 1) n else s"${n}_$k"
    }
  }

  /** The reader options of every DSV read: pandas NA semantics
    * (NA/empty/NaN -> null, SURVEY §7.4.2), permissive rows.
    */
  private[io] def options(sep: String, header: Boolean): Map[String, String] =
    Map("sep" -> sep, "header" -> header.toString, "nullValue" -> "NA",
      "nanValue" -> "NaN", "mode" -> "PERMISSIVE")

  def read(spark: SparkSession, source: String,
           opts: ReadOpts = ReadOpts()): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val sampleFile = Sniffer.firstMatchingFile(source, conf).getOrElse(source)
    val sep = opts.sep.getOrElse(Sniffer.sniffSep(sampleFile, conf))
    val reader = spark.read.format(classOf[DsvFormat].getName)
      .options(options(sep, opts.header))
    // full inference is one job at plan build (see DsvFormat); the
    // sample path types from the sniffer's head sample instead and
    // starts no job until the scan
    val df =
      if (opts.sampleInference)
        reader.schema(Sniffer.inferSchemaFromSample(sampleFile, sep.head,
          conf)).load(source)
      else reader.option("inferSchema", "true").load(source)
    clean(df)
  }

  /** Normalized names, and the remaining pandas NA tokens on string
    * columns -> null (numeric columns already coerce failures to null
    * via PERMISSIVE + nanValue).
    */
  private[io] def clean(df: DataFrame): DataFrame = {
    val named = df.toDF(normalizeNames(df.columns.toSeq): _*)
    import graft.Cols.ref
    import org.apache.spark.sql.functions.when
    import org.apache.spark.sql.types.StringType
    val cleaned = named.schema.fields.map { f =>
      if (f.dataType == StringType)
        when(ref(f.name).isin(NaTokens: _*), null)
          .otherwise(ref(f.name)).as(f.name)
      else ref(f.name)
    }
    named.select(cleaned.toSeq: _*)
  }
}
