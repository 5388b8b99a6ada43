package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query: its Spark plan over a table dir, and the DuckDB SQL
  * that pins what it means (`None` where Spark synthesizes the input
  * and no table the oracle reads holds it).
  *
  * Oracle-parity rules used throughout:
  *  - every query ends in a deterministic total ORDER BY (both sides);
  *  - money sums go through DECIMAL(18,2) (exact) then cast to DOUBLE;
  *  - ratios are integer ppm (×1e6, integer division) — no float rounding;
  *  - the only cross-engine hash is md5 (identical hex both sides);
  *  - timestamps compared as integer microseconds (unix_micros/epoch_us).
  */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: Option[String])
