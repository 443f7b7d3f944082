package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{OtlpFlatten, Validation}
import graft.metrics.EventsMetrics
import graft.query.Promread

/** Ingest-surface queries: S3 full per-type datapoint conversion, S4 exemplar
  * cap, S5 attribute merge (reference: internal/receiver/otlp.go:126-344;
  * internal/processor/processor.go:100-104).
  *
  * Each builds a deterministic OTLP-wire fixture from the events table with
  * pure column arithmetic, so the DuckDB oracle can restate both the fixture
  * and the conversion rules in ANSI SQL.
  */
object IngestQueries {

  /** The wire fixture: one datapoint per event, metric kind assigned by
    * event_type so every per-type branch (plus the unsupported-kind drop) is
    * exercised; int-vs-double value split by user parity (otlp.go:147-155);
    * histogram bounds/counts, count/sum, and overlapping resource/dp
    * attribute maps all derived from (user_id, value, event_id). */
  // NOTE on the exemplar transform below: its per-element struct/map
  // allocation dominates; the element-invariant subtrees (trace concat,
  // timestamp_millis) DO re-evaluate per element in the interpreted lambda,
  // but hoisting them into aliases does not help — CollapseProject inlines
  // single-use aliases back into the lambda body (measured: no change).
  private def wire(s: SparkSession, d: String): DataFrame =
    EventsMetrics.fromEvents(s, d).select(
      col("event_id"), col("ts_ms"), col("service_name"),
      when(col("event_id") % 97 === 0, "bogus")
        .when(col("event_type") === "view", "gauge")
        .when(col("event_type") === "click", "sum")
        .when(col("event_type") === "purchase", "histogram")
        .when(col("event_type") === "signup", "summary")
        .otherwise("exponential_histogram").as("kind"),
      when(col("user_id") % 4 === 0, 2).otherwise(1).as("temporality_code"),
      (col("user_id") % 5 =!= 0).as("is_monotonic"),
      when(col("user_id") % 2 === 0, round(col("value") * 100, 0).cast("long"))
        .as("value_int"),
      when(col("user_id") % 2 =!= 0, col("value")).as("value_double"),
      (col("user_id") % 10 + 1).cast("long").as("count"),
      round(col("value") * 10, 2).as("sum"),
      array(lit(0.1), lit(1.0), lit(10.0)).as("bounds"),
      array((col("user_id") % 3).cast("long"), (col("user_id") % 5).cast("long"),
        (col("user_id") % 7).cast("long"), (col("user_id") % 11).cast("long"))
        .as("bucket_counts"),
      map(lit("env"), lit("prod"), lit("svc"), col("service_name"))
        .as("resource_attrs"),
      map(lit("env"), lit("stage"), lit("user"), col("user_id").cast("string"))
        .as("dp_attrs"),
      transform(sequence(lit(1), (col("user_id") % 13 + 1).cast("int")),
        i => struct(
          concat(lit("span-"), i.cast("string")).as("spanId"),
          concat(lit("trace-"), col("event_id").cast("string")).as("traceId"),
          (col("value") + i).cast("double").as("value"),
          timestamp_millis(col("ts_ms")).as("timestamp"),
          map(lit("i"), i.cast("string"))
            .cast("map<string,string>").as("attributes")))
        .as("exemplars"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S3 — the per-type switch as one codegen projection; output flattened to
    // oracle-friendly scalars (bucket struct internals are covered by
    // n_buckets / bucket_total / +Inf-pad checks).
    "q_s3_per_type" -> ((s, d) =>
      OtlpFlatten.convertDatapoints(wire(s, d))
        .select(
          col("event_id"), col("kind"),
          col("metric_type").cast("int").as("metric_type"),
          col("temporality").cast("int").as("temporality"),
          col("is_monotonic"),
          round(col("value"), 2).as("value"),
          col("count"), col("sum"),
          coalesce(size(col("buckets")), lit(-1)).as("n_buckets"),
          coalesce(aggregate(col("buckets"), lit(0L),
            (acc, b) => acc + b.getField("count")), lit(-1L)).as("bucket_total"),
          coalesce(element_at(col("buckets"), -1).getField("le") ===
            Double.PositiveInfinity, lit(false)).as("last_le_is_inf"),
          coalesce(size(col("exemplars")), lit(-1)).as("n_exemplars"),
          Promread.labelsKey(col("attributes")).as("labels"))),

    // S4 — exemplar cap: first-N kept when enabled, typed-null when disabled
    // (processor.go:100-104); the disabled branch keeps the full exemplar
    // schema (Validation.scala round-2 schema-drift fix). The capped array
    // is materialized once and every check column reads from it: spelling
    // the cap per consumer column re-ran the array-copying slice three times
    // (r7 bench regression fix).
    "q_s4_exemplars" -> ((s, d) =>
      wire(s, d)
        .select(col("event_id"),
          Validation.capExemplars(col("exemplars"), enabled = true, max = 10)
            .as("capped"))
        .select(
          col("event_id"),
          size(col("capped")).as("n_capped"),
          Validation.capExemplars(col("capped"), enabled = false).isNull
            .as("disabled_is_null"),
          element_at(col("capped"), 1).getField("spanId").as("first_span"))),

    // S5 — attribute merge, datapoint wins on key collision (otlp.go:332-344);
    // rendered through the sorted labels key so map ordering can't leak in.
    "q_s5_attr_merge" -> ((s, d) => {
      wire(s, d).select(
        col("event_id"),
        Promread.labelsKey(
          OtlpFlatten.mergeAttributes(col("resource_attrs"), col("dp_attrs")))
          .as("merged"))
    }),

    // Document-source round-trip: documents re-encoded line-per-row JSON
    // (to_json), re-ingested through DocumentSource.jsonl's explicit-schema
    // parse, quarantine split applied. The oracle reads the original parquet
    // table — a hash match proves the JSONL ingest path is lossless (any
    // mis-parsed or quarantined row would be absent from the clean side and
    // fail rows_match).
    "q_src_jsonl" -> ((s, d) => {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_src_jsonl"
      graft.model.Tables.documents(s, d)
        .select(to_json(struct(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))).as("value"))
        .write.mode("overwrite").text(dir)
      val (clean, _) = graft.sources.DocumentSource.quarantine(
        graft.sources.DocumentSource.jsonl(s, dir))
      clean
    }),

    // WARC source (r16 verdict #8): every doc wrapped as a real
    // WARC/1.0 response record (HTTP message payload, byte-exact
    // Content-Length), records concatenated into multi-record streams of
    // ≤25 docs in doc_id order (floor(id/25) — stream COUNT grows with
    // the corpus, stream SIZE stays bounded, the shape real crawls ship),
    // plus one TRUNCATED single-record stream per 13th doc
    // (Content-Length lying past EOF). The streams parse through the
    // same byte-walk the file reader uses; the truncated plants must
    // quarantine, so a clean-side hash match against the raw documents
    // table proves extraction AND corruption isolation at once.
    "q_src_warc" -> ((s, d) => {
      val docs = graft.model.Tables.documents(s, d)
      val http = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"),
        col("text"))
      def rec(lenShift: Int) = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: " +
          "http://example.com/"), col("doc_id"),
        lit("\r\nContent-Length: "),
        (octet_length(http) + lenShift).cast("string"),
        lit("\r\n\r\n"), http, lit("\r\n\r\n"))
      val good = docs
        .select(floor(col("doc_id") / 25).cast("string").as("src"),
          struct(col("doc_id"), rec(0).as("rec")).as("p"))
        .groupBy(col("src"))
        .agg(array_join(transform(array_sort(collect_list(col("p"))),
          x => x.getField("rec")), "").as("stream"))
      val bad = docs.filter(col("doc_id") % 13 === 0)
        .select(concat(lit("bad-"), col("doc_id")).as("src"),
          rec(7).as("stream"))
      val parsed = graft.sources.WarcSource.parseWarc(
        good.unionAll(bad).select(col("src"),
          encode(col("stream"), "UTF-8").as("content")))
      val (clean, _) = graft.sources.WarcSource.quarantine(parsed)
      clean.select(
          substring_index(col("uri"), "/", -1).cast("long").as("doc_id"),
          col("warc_type"), col("http_status"),
          length(col("body")).cast("long").as("n_chars"),
          col("body").as("text"))
    }),

    // First-mile HTTP response gate (r18): response records carry varied
    // status lines (200/404/301 by doc_id % 5) and Content-Type headers
    // (text/html;charset / TEXT/PLAIN / application/pdf by doc_id % 3 —
    // the upper-case arm pins case-insensitive media normalization);
    // responseFilter must keep exactly the 200 ∩ {text/html, text/plain}
    // intersection. Same multi-record stream construction as q_src_warc,
    // so the gate is exercised THROUGH the real byte-walk, not on a
    // hand-built frame.
    "q_warc_response_filter" -> ((s, d) => {
      val docs = graft.model.Tables.documents(s, d)
      val status = element_at(array(lit("200 OK"), lit("404 Not Found"),
        lit("200 OK"), lit("301 Moved Permanently"), lit("200 OK")),
        (pmod(col("doc_id"), lit(5)) + 1).cast("int"))
      val ctype = element_at(array(lit("text/html; charset=UTF-8"),
        lit("TEXT/PLAIN"), lit("application/pdf")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
      val http = concat(lit("HTTP/1.1 "), status,
        lit("\r\nContent-Type: "), ctype, lit("\r\n\r\n"), col("text"))
      val rec = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: " +
          "http://example.com/"), col("doc_id"),
        lit("\r\nContent-Length: "), octet_length(http).cast("string"),
        lit("\r\n\r\n"), http, lit("\r\n\r\n"))
      val streams = docs
        .select(floor(col("doc_id") / 25).cast("string").as("src"),
          struct(col("doc_id"), rec.as("rec")).as("p"))
        .groupBy(col("src"))
        .agg(array_join(transform(array_sort(collect_list(col("p"))),
          x => x.getField("rec")), "").as("stream"))
      val parsed = graft.sources.WarcSource.parseWarc(
        streams.select(col("src"), encode(col("stream"), "UTF-8").as("content")))
      graft.sources.WarcSource.responseFilter(parsed)
        .select(substring_index(col("uri"), "/", -1).cast("long").as("doc_id"),
          col("media_type"), length(col("body")).cast("long").as("n_chars"))
    }),

    // X-Robots-Tag opt-out gate (r18 verdict gap #2): the HEADER form of
    // the robots opt-out, OR-composed with the meta-tag gate — compliance
    // means honoring BOTH. Eight fixture arms through the real byte-walk:
    // blocked via unscoped header 'noindex', kept via a header scoped to
    // ANOTHER agent (googlebot ≠ robots — the non-over-blocking bound),
    // blocked via our-agent-scoped 'none', blocked via the meta tag with
    // no header (the OR-composition proof), kept 'nofollow' (no opt-out
    // token), kept bare, blocked via a colon-bearing value directive
    // before the token (r19 advice: 'unavailable_after: <date>, noindex'
    // — the old [^:]* bound missed it), kept when that same list is
    // scoped to another agent. The surfaced header value rides the output
    // verbatim, so the hash also pins the walk's header extraction.
    "q_warc_robots_header" -> ((s, d) => {
      val docs = graft.model.Tables.documents(s, d)
      val arm = pmod(col("doc_id"), lit(8))
      val xr = when(arm === 0, lit("noindex"))
        .when(arm === 1, lit("googlebot: noindex, nofollow"))
        .when(arm === 2, lit("robots: none"))
        .when(arm === 4, lit("nofollow"))
        .when(arm === 6, lit("unavailable_after: 25 Jun 2026, noindex"))
        .when(arm === 7,
          lit("googlebot: unavailable_after: 25 Jun 2026, noindex"))
      val body = when(arm === 3, concat(
          lit("<html><head><meta name=\"robots\" content=\"noindex\">" +
            "</head><body>"), col("text"), lit("</body></html>")))
        .otherwise(col("text"))
      val http = concat(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"),
        when(xr.isNotNull, concat(lit("X-Robots-Tag: "), xr, lit("\r\n")))
          .otherwise(lit("")),
        lit("\r\n"), body)
      val rec = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: " +
          "http://example.com/"), col("doc_id"),
        lit("\r\nContent-Length: "), octet_length(http).cast("string"),
        lit("\r\n\r\n"), http, lit("\r\n\r\n"))
      val streams = docs
        .select(floor(col("doc_id") / 25).cast("string").as("src"),
          struct(col("doc_id"), rec.as("rec")).as("p"))
        .groupBy(col("src"))
        .agg(array_join(transform(array_sort(collect_list(col("p"))),
          x => x.getField("rec")), "").as("stream"))
      val parsed = graft.sources.WarcSource.parseWarc(
        streams.select(col("src"), encode(col("stream"), "UTF-8").as("content")))
      graft.sources.WarcSource.responseFilter(parsed)
        .filter(!graft.llm.Html.robotsHeaderNoindex(col("x_robots_tag")) &&
          !graft.llm.Html.robotsNoindex(col("body")))
        .select(substring_index(col("uri"), "/", -1).cast("long").as("doc_id"),
          (substring_index(col("uri"), "/", -1).cast("long") % 8).as("arm"),
          col("x_robots_tag"))
    }))

  import OracleDefs.EvtCte

  /** The wire fixture restated for DuckDB (shared by all three oracles). */
  private val WireCte =
    s"""$EvtCte,
      |wire AS (SELECT event_id, ts_ms, service_name, user_id, value,
      |  CASE WHEN event_id % 97 = 0 THEN 'bogus'
      |       WHEN event_type = 'view' THEN 'gauge'
      |       WHEN event_type = 'click' THEN 'sum'
      |       WHEN event_type = 'purchase' THEN 'histogram'
      |       WHEN event_type = 'signup' THEN 'summary'
      |       ELSE 'exponential_histogram' END AS kind,
      |  CASE WHEN user_id % 4 = 0 THEN 2 ELSE 1 END AS temporality_code,
      |  user_id % 5 <> 0 AS is_monotonic,
      |  CASE WHEN user_id % 2 = 0 THEN CAST(round(value * 100, 0) AS BIGINT) END AS value_int,
      |  CASE WHEN user_id % 2 <> 0 THEN value END AS value_double,
      |  CAST(user_id % 10 + 1 AS BIGINT) AS cnt,
      |  round(value * 10, 2) AS sm,
      |  CAST(user_id % 3 + user_id % 5 + user_id % 7 + user_id % 11 AS BIGINT) AS bucket_total,
      |  CAST(user_id % 13 + 1 AS BIGINT) AS n_ex
      |  FROM evt)""".stripMargin

  def oracles: Map[String, String] = Map(
    "q_src_jsonl" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the WARC round-trip's expected clean side: every document exactly
    // once (truncated plants quarantine and contribute nothing)
    "q_src_warc" ->
      """SELECT doc_id, 'response' AS warc_type, 200 AS http_status,
        |       CAST(len(text) AS BIGINT) AS n_chars, text
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the response gate's expected survivors: the status arm (200 ⇔
    // doc_id % 5 ∈ {0,2,4}) ∩ the media arm (allowlisted ⇔ doc_id % 3 ∈
    // {0,1}), media type normalized to lowercase-before-';'
    "q_warc_response_filter" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 3 = 0 THEN 'text/html'
        |            ELSE 'text/plain' END AS media_type,
        |       CAST(len(text) AS BIGINT) AS n_chars
        |FROM documents
        |WHERE doc_id % 5 IN (0, 2, 4) AND doc_id % 3 IN (0, 1)
        |ORDER BY doc_id""".stripMargin,

    // the robots-header gate re-runs the SHARED patterns (the
    // q_html_robots_gate discipline) over the reconstructed header and
    // body — survivors are the other-agent-scoped, token-less, and bare
    // arms
    "q_warc_robots_header" -> {
      val hp = graft.llm.Html.robotsHeaderPattern("robots").replace("'", "''")
      val Seq(p1, p2) = graft.llm.Html.robotsPatterns("robots")
        .map(_.replace("'", "''"))
      s"""WITH h AS (SELECT doc_id, doc_id % 8 AS arm,
         |  CASE doc_id % 8
         |    WHEN 0 THEN 'noindex'
         |    WHEN 1 THEN 'googlebot: noindex, nofollow'
         |    WHEN 2 THEN 'robots: none'
         |    WHEN 4 THEN 'nofollow'
         |    WHEN 6 THEN 'unavailable_after: 25 Jun 2026, noindex'
         |    WHEN 7 THEN 'googlebot: unavailable_after: 25 Jun 2026, noindex'
         |    END AS x_robots_tag,
         |  CASE WHEN doc_id % 8 = 3
         |       THEN '<html><head><meta name="robots" content="noindex">' ||
         |            '</head><body>' || text || '</body></html>'
         |       ELSE text END AS body
         |  FROM documents)
         |SELECT doc_id, arm, x_robots_tag FROM h
         |WHERE NOT coalesce(regexp_matches(x_robots_tag, '$hp'), false)
         |  AND NOT (regexp_matches(body, '$p1')
         |           OR regexp_matches(body, '$p2'))
         |ORDER BY doc_id""".stripMargin
    },

    "q_s3_per_type" -> s"""$WireCte
      |SELECT event_id, kind,
      |  CASE kind WHEN 'gauge' THEN 1 WHEN 'sum' THEN 2 WHEN 'histogram' THEN 3
      |            WHEN 'exponential_histogram' THEN 5 ELSE 4 END AS metric_type,
      |  CASE WHEN kind IN ('sum','histogram','exponential_histogram')
      |       THEN temporality_code ELSE 0 END AS temporality,
      |  CASE WHEN kind = 'sum' THEN is_monotonic ELSE false END AS is_monotonic,
      |  CASE WHEN kind IN ('gauge','sum')
      |       THEN round(coalesce(value_double, CAST(value_int AS DOUBLE)), 2)
      |       END AS value,
      |  CASE WHEN kind IN ('histogram','exponential_histogram','summary')
      |       THEN cnt END AS count,
      |  CASE WHEN kind IN ('histogram','exponential_histogram','summary')
      |       THEN sm END AS sum,
      |  CASE WHEN kind = 'histogram' THEN 4 ELSE -1 END AS n_buckets,
      |  CASE WHEN kind = 'histogram' THEN bucket_total ELSE -1 END AS bucket_total,
      |  kind = 'histogram' AS last_le_is_inf,
      |  CASE WHEN kind <> 'summary' THEN n_ex ELSE -1 END AS n_exemplars,
      |  'env=stage,svc=' || service_name || ',user=' || CAST(user_id AS VARCHAR)
      |    AS labels
      |FROM wire WHERE kind <> 'bogus' ORDER BY event_id""".stripMargin,

    "q_s4_exemplars" -> s"""$WireCte
      |SELECT event_id, CAST(least(n_ex, 10) AS INT) AS n_capped,
      |       true AS disabled_is_null,
      |       'span-1' AS first_span
      |FROM wire ORDER BY event_id""".stripMargin,

    "q_s5_attr_merge" -> s"""$WireCte
      |SELECT event_id,
      |       'env=stage,svc=' || service_name || ',user=' ||
      |         CAST(user_id AS VARCHAR) AS merged
      |FROM wire ORDER BY event_id""".stripMargin)
}
