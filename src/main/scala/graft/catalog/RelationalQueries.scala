package graft
package catalog

import graft.ops.{Curation, Skew}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Shared._

/** Relational queries that call no operator module (aggregation, joins,
  * windows, rollups, sessions, salted aggregation, Unicode
  * normalization), and skew-aware heavy hitters ([[graft.ops.Skew]]).
  */
object RelationalQueries {
  def specs: Seq[QuerySpec] = Seq(
    // A1: grouped aggregation with partial/final hash agg
    QuerySpec("q01_agg", (s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
            .as("sum_qty"),
          count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double")
            .as("sum_price"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        COUNT(*) AS n,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""")),
    // J: multi-way broadcast join
    QuerySpec("q02_join", (s, d) => {
      val o = t(s, d, "orders")
      val c = t(s, d, "customer")
      val n = t(s, d, "nation")
      val r = t(s, d, "region")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
            .as("revenue"))
        .orderBy(col("r_name"), col("n_name"))
    },
    Some("""SELECT r_name, n_name, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2 ORDER BY 1, 2""")),
    // O4: top-k with deterministic tie-break
    QuerySpec("q03_topk", (s, d) =>
      t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10),
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""")),
    // W: window functions (row_number, lag)
    QuerySpec("q04_window", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .select(col("event_id"), col("user_id"),
          row_number().over(w).as("rn"),
          lag(col("value"), 1).over(w).as("prev_value"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, user_id,
        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          AS prev_value
        FROM events ORDER BY event_id""")),
    // J: left semi (EXISTS)
    QuerySpec("q05_semijoin", (s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders").filter(col("o_totalprice") > 100.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100.0)
        ORDER BY c_custkey""")),
    // J: left anti (NOT EXISTS)
    QuerySpec("q06_antijoin", (s, d) => {
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey)
        ORDER BY c_custkey""")),
    // O3: union + distinct
    QuerySpec("q07_union", (s, d) => {
      val a = t(s, d, "events").select(col("event_type").as("label"))
        .distinct().withColumn("src", lit("events"))
      val b = t(s, d, "part").select(col("p_brand").as("label"))
        .distinct().withColumn("src", lit("part"))
      a.unionByName(b).orderBy("label", "src")
    },
    Some("""SELECT label, src FROM (
          SELECT DISTINCT event_type AS label, 'events' AS src FROM events
          UNION ALL
          SELECT DISTINCT p_brand AS label, 'part' AS src FROM part)
        ORDER BY label, src""")),
    // A: rollup with grouping nulls
    QuerySpec("q08_rollup", (s, d) =>
      t(s, d, "events")
        .withColumn("yr", year(col("ts")))
        .rollup(col("yr"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double")
            .as("sum_value"))
        .orderBy(col("yr").asc_nulls_first,
          col("event_type").asc_nulls_first),
    Some("""SELECT year(ts) AS yr, event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY ROLLUP(yr, event_type)
        ORDER BY yr ASC NULLS FIRST, event_type ASC NULLS FIRST""")),
    // A4: exact dedup via content grouping
    QuerySpec("q09_dedup_exact", (s, d) =>
      t(s, d, "documents")
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("canonical_id"),
          count(lit(1)).as("n_copies"))
        .select("canonical_id", "n_copies", "fp")
        .orderBy("canonical_id"),
    Some("""SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies,
        md5(text) AS fp
        FROM documents GROUP BY md5(text) ORDER BY canonical_id""")),
    // N5-N9: regex field extraction
    QuerySpec("q11_regex", (s, d) =>
      t(s, d, "events")
        .select(col("event_id"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int")
            .as("k_val"))
        .orderBy("event_id"),
    Some("""SELECT event_id,
        CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS k_val
        FROM events ORDER BY event_id""")),
    // G2/A5: window segmentation + segment fold (the stitching primitive)
    QuerySpec("q12_segment", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .withColumn("seg_id",
          sum(when(col("event_type") === "signup", 1).otherwise(0)).over(w))
        .groupBy(col("user_id"), col("seg_id"))
        .agg(count(lit(1)).as("n"),
          min(col("event_id")).as("first_ev"),
          max(col("event_id")).as("last_ev"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double")
            .as("sum_value"))
        .orderBy("user_id", "seg_id")
    },
    Some("""SELECT user_id, seg_id, COUNT(*) AS n, MIN(event_id) AS first_ev,
        MAX(event_id) AS last_ev,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM (SELECT *,
          CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seg_id
          FROM events)
        GROUP BY 1, 2 ORDER BY 1, 2""")),
    // A: conditional aggregation (pivot-shaped)
    QuerySpec("q13_pivot", (s, d) =>
      t(s, d, "events")
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "click", 1).otherwise(0)).as("n_click"),
          sum(when(col("event_type") === "view", 1).otherwise(0)).as("n_view"),
          sum(when(col("event_type") === "purchase", 1).otherwise(0))
            .as("n_purchase"),
          sum(when(col("event_type") === "signup", 1).otherwise(0))
            .as("n_signup"),
          sum(when(col("event_type") === "error", 1).otherwise(0)).as("n_error"),
          count(lit(1)).as("n_total"))
        .orderBy("user_id"),
    Some("""SELECT user_id,
        CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        COUNT(*) AS n_total
        FROM events GROUP BY 1 ORDER BY 1""")),
    // sessionization: gap-based (30 min) session windows
    QuerySpec("q24_sessionize", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("new_sess",
          when(col("us") - lag(col("us"), 1).over(w) > 1800000000L ||
            lag(col("us"), 1).over(w).isNull, 1).otherwise(0))
        .withColumn("session_id", sum(col("new_sess")).over(wRun))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("event_id")).as("first_ev"),
          max(col("event_id")).as("last_ev"))
        .orderBy("user_id", "session_id")
    },
    Some("""SELECT user_id, session_id, COUNT(*) AS n_events,
        MIN(event_id) AS first_ev, MAX(event_id) AS last_ev
        FROM (SELECT *,
          CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
          FROM (SELECT *,
            CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1)
                OVER (PARTITION BY user_id ORDER BY ts, event_id)
                > 1800000000
              OR lag(epoch_us(ts), 1)
                OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
            FROM events))
        GROUP BY 1, 2 ORDER BY 1, 2""")),
    // X4: salted two-stage aggregation (skew-safe; same result as plain)
    QuerySpec("q25_salted_agg", (s, d) =>
      Skew.saltedSum(t(s, d, "events"),
        col("user_id"), col("value").cast(DecimalType(18, 2)), 8, "sum_value")
        .select(col("_k").as("user_id"),
          col("sum_value").cast("double").as("sum_value"),
          col("sum_value_n").as("n"))
        .orderBy("user_id"),
    Some("""SELECT user_id,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        COUNT(*) AS n
        FROM events GROUP BY 1 ORDER BY 1""")),
    // P3: bbox output parse (app.py:200-215) — detections extracted,
    // coordinates stripped from the text, image refs kept
    QuerySpec("q35_bbox", (s, d) => {
      val did = col("doc_id").cast("long")
      val p = "!\\[image\\]\\((image_\\d+\\.png)\\)\\s*(\\d+),(\\d+),(\\d+),(\\d+)"
      val synth = concat(substring(col("text"), 1, 30),
        lit(" ![image](image_"), pmod(did, lit(7)), lit(".png)"),
        pmod(did, lit(5)) * 100, lit(","), pmod(did, lit(4)) * 100,
        lit(","), pmod(did, lit(5)) * 100 + 200, lit(","),
        pmod(did, lit(4)) * 100 + 150,
        lit(" more ![image](image_9.png)10,20,110,220"))
      t(s, d, "documents")
        .select(col("doc_id"), synth.as("t"))
        .withColumn("cleaned", regexp_replace(col("t"), p, "![image]($1)"))
        .withColumn("dets", regexp_extract_all(col("t"), lit(p), lit(0)))
        .withColumn("n_det", size(col("dets")).cast("long"))
        .withColumn("sum_w", aggregate(transform(col("dets"),
          m => regexp_extract(m, p, 4).cast("long") -
            regexp_extract(m, p, 2).cast("long")), lit(0L), (a, x) => a + x))
        .withColumn("sum_h", aggregate(transform(col("dets"),
          m => regexp_extract(m, p, 5).cast("long") -
            regexp_extract(m, p, 3).cast("long")), lit(0L), (a, x) => a + x))
        .select("doc_id", "cleaned", "n_det", "sum_w", "sum_h")
        .orderBy("doc_id")
    },
    Some("""WITH f AS (SELECT doc_id,
          concat(substr(text, 1, 30),
            ' ![image](image_', CAST(doc_id AS BIGINT) % 7, '.png)',
            (CAST(doc_id AS BIGINT) % 5) * 100, ',',
            (CAST(doc_id AS BIGINT) % 4) * 100, ',',
            (CAST(doc_id AS BIGINT) % 5) * 100 + 200, ',',
            (CAST(doc_id AS BIGINT) % 4) * 100 + 150,
            ' more ![image](image_9.png)10,20,110,220') AS t
          FROM documents),
        d AS (SELECT doc_id, t,
          regexp_extract_all(t, '!\[image\]\((image_\d+\.png)\)\s*(\d+),(\d+),(\d+),(\d+)') AS dets
          FROM f)
        SELECT doc_id,
          regexp_replace(t, '!\[image\]\((image_\d+\.png)\)\s*(\d+),(\d+),(\d+),(\d+)', '![image](\1)', 'g') AS cleaned,
          CAST(len(dets) AS BIGINT) AS n_det,
          CAST(list_sum(list_transform(dets, m ->
            CAST(regexp_extract(m, '!\[image\]\((image_\d+\.png)\)\s*(\d+),(\d+),(\d+),(\d+)', 4) AS BIGINT) -
            CAST(regexp_extract(m, '!\[image\]\((image_\d+\.png)\)\s*(\d+),(\d+),(\d+),(\d+)', 2) AS BIGINT))) AS BIGINT) AS sum_w,
          CAST(list_sum(list_transform(dets, m ->
            CAST(regexp_extract(m, '!\[image\]\((image_\d+\.png)\)\s*(\d+),(\d+),(\d+),(\d+)', 5) AS BIGINT) -
            CAST(regexp_extract(m, '!\[image\]\((image_\d+\.png)\)\s*(\d+),(\d+),(\d+),(\d+)', 3) AS BIGINT))) AS BIGINT) AS sum_h
        FROM d ORDER BY doc_id""")),
    // N4: JSON code-fence strip (validator.py:5-17) — fenced body else
    // passthrough, over fenced strings synthesized from documents
    QuerySpec("q33_code_fence", (s, d) => {
      val did = col("doc_id").cast("long")
      val snippet = substring(col("text"), 1, 40)
      val fenced = when(pmod(did, lit(3)) === 0,
        concat(lit("```json\n"), snippet, lit("\n```")))
        .when(pmod(did, lit(3)) === 1,
          concat(lit("```\n"), snippet, lit("\n```")))
        .otherwise(snippet)
      val body = regexp_extract(col("fenced"),
        "(?s)```(?:json)?\\s*(.*?)\\s*```", 1)
      t(s, d, "documents")
        .select(col("doc_id"), fenced.as("fenced"))
        .withColumn("stripped",
          when(col("fenced").rlike("(?s)```(?:json)?\\s*.*?\\s*```"), body)
            .otherwise(col("fenced")))
        .select("doc_id", "stripped")
        .orderBy("doc_id")
    },
    Some("""WITH f AS (SELECT doc_id,
          CASE CAST(doc_id AS BIGINT) % 3
            WHEN 0 THEN concat('```json', chr(10), substr(text, 1, 40),
              chr(10), '```')
            WHEN 1 THEN concat('```', chr(10), substr(text, 1, 40),
              chr(10), '```')
            ELSE substr(text, 1, 40) END AS fenced
          FROM documents)
        SELECT doc_id,
          CASE WHEN regexp_matches(fenced, '(?s)```(?:json)?\s*.*?\s*```')
            THEN regexp_extract(fenced, '(?s)```(?:json)?\s*(.*?)\s*```', 1)
            ELSE fenced END AS stripped
        FROM f ORDER BY doc_id""")),
    // skew: bounded-shuffle heavy-hitter detection — viral paragraphs
    // (the %3 promo + %5 footer plants, q40's corpus) found via
    // width-bounded bucket counts + broadcast-filtered exact confirm,
    // never a corpus-wide one-row-per-distinct-paragraph shuffle. The
    // oracle is the PLAIN exact groupBy-HAVING — pinning that the
    // two-pass bounded form returns exactly the exact answer
    QuerySpec("q109_heavy_hitters", (s, d) => {
      val did = col("doc_id").cast("long")
      val aug = concat_ws("\n\n",
        when(pmod(did, lit(3)) === 0,
          lit("Subscribe to our newsletter for updates.")),
        col("text"),
        when(pmod(did, lit(5)) === 0,
          lit("All rights reserved. Terms of use apply.")))
      val paras = t(s, d, "documents")
        .select(posexplode(Curation.paragraphs(aug)).as(Seq("_p", "para")))
      Skew.heavyHitters(paras, col("para"), minCount = 50L,
          width = 1 << 12, out = "para")
        .select(md5(col("para")).as("para_md5"),
          length(col("para")).cast("long").as("para_len"), col("n"))
        .orderBy(desc("n"), col("para_md5"))
    },
    // q109: the oracle is the PLAIN exact groupBy-HAVING over the same
    // paragraph plant — it never sees the hash buckets, so a green row
    // proves the bounded two-pass form equals the exact answer
    Some("""WITH f AS (SELECT concat_ws(chr(10)||chr(10),
          CASE WHEN CAST(doc_id AS BIGINT) % 3 = 0
            THEN 'Subscribe to our newsletter for updates.' END,
          text,
          CASE WHEN CAST(doc_id AS BIGINT) % 5 = 0
            THEN 'All rights reserved. Terms of use apply.' END) AS aug
          FROM documents),
        p AS (SELECT unnest(list_filter(list_transform(
            regexp_split_to_array(aug, '\n{2,}'), q -> trim(q)),
            q -> q != '')) AS para FROM f),
        e AS (SELECT para, count(*) AS n FROM p
          GROUP BY para HAVING count(*) >= 50)
        SELECT md5(para) AS para_md5,
          CAST(length(para) AS BIGINT) AS para_len, CAST(n AS BIGINT) AS n
        FROM e ORDER BY n DESC, para_md5""")),
    // text hygiene: Unicode NFC normalization (native codegen
    // expression) — composed U+00E9 and decomposed e+U+0301 render
    // identically but defeat every hash-based dedup stage; the plant
    // puts composed/decomposed twins in each id-group and the md5 of
    // the normalized text collapses them (checked row-exactly by the
    // DuckDB nfc_normalize twin)
    QuerySpec("q112_nfc", (s, d) => {
      val did = col("doc_id").cast("long")
      val g = call_function("div", did, lit(3L)).cast("string")
      val v = pmod(did, lit(3))
      val raw = concat(
        when(v === 0, lit("caf\u00e9 menu "))
          .when(v === 1, lit("cafe\u0301 menu "))
          .otherwise(lit("A\u030a resort ")), lit("g"), g)
      t(s, d, "documents").select(did.as("doc_id"), raw.as("_raw"))
        .select(col("doc_id"),
          length(col("_raw")).cast("long").as("raw_cp"),
          length(graft.functions.UnicodeNormalize(col("_raw")))
            .cast("long").as("nfc_cp"),
          md5(graft.functions.UnicodeNormalize(col("_raw")))
            .as("nfc_md5"))
        .orderBy("doc_id")
    },
    // q112: the same composed/decomposed plant rebuilt with chr()
    // codepoints, normalized by DuckDB's own nfc_normalize — an
    // INDEPENDENT ICU-class implementation agreeing byte-for-byte with
    // the JDK Normalizer is the strongest cross-check available here
    Some("""WITH p AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
        r AS (SELECT did,
          (CASE did % 3
            WHEN 0 THEN 'caf' || chr(233) || ' menu '
            WHEN 1 THEN 'cafe' || chr(769) || ' menu '
            ELSE 'A' || chr(778) || ' resort ' END)
            || 'g' || CAST(did // 3 AS VARCHAR) AS raw FROM p)
        SELECT did AS doc_id,
          CAST(length(raw) AS BIGINT) AS raw_cp,
          CAST(length(nfc_normalize(raw)) AS BIGINT) AS nfc_cp,
          md5(nfc_normalize(raw)) AS nfc_md5
        FROM r ORDER BY doc_id"""))
  )
}
