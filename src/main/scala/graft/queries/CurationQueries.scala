package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Dsir, Html, LmTrain, Retrieval, SpanDedup}
import graft.model.Tables

/** Round-15 curation operators: DSIR importance resampling, corpus-trained
  * trigram LM, and exact substring (span) duplication — each with a FULL
  * DuckDB oracle (integer weights / engine-portable poly hash, no twins
  * needed). Split from [[LlmQueries]] to keep that file reviewable. */
object CurationQueries {

  private val B = graft.functions.WinnowFingerprintExpr.B
  private val P = graft.functions.WinnowFingerprintExpr.P

  /** Span-dedup fixture: the corpus plus cross-copy plants — every 11th
    * doc spawns (id+700000) carrying the base doc's first 12 tokens plus a
    * distinct trailer, so base and plant share 12−W+1 window hashes. */
  private def docsSpanFix(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val p1 = concat_ws(" ", slice(split(col("text"), " "), 1, 12))
    base.unionAll(
      base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 700000L).as("doc_id"),
          concat(p1, lit(" spanfix trailer tokens x y z q r s t u"))
            .as("text")))
  }

  /** BM25 mining terms — present in the synthetic vocabulary at graded
    * frequencies, so scores genuinely rank. */
  private val Bm25Terms = Seq("spark", "query", "window")

  /** Text→embedding fixture for the end-to-end semantic dedup: the corpus
    * plus exact-copy plants (every 7th doc re-appears at id+900000 with
    * IDENTICAL text ⇒ identical hashed embedding ⇒ cosine exactly 1), all
    * embedded by the engine-native hashed-bigram projector. */
  private def docsEmbFix(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    base.unionAll(
      base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 900000L).as("doc_id"), col("text")))
      .select(col("doc_id").as("vec_id"),
        graft.llm.Embed.hashedEmbedding(col("text")).as("embedding"))
  }

  /** HTML fixture: every doc wrapped in markup with script/style payloads
    * (carrying <, >, && — the tag-regex traps), a comment spanning lines,
    * and an entity battery including the &amp;amp; double-decode trap. */
  private def docsHtmlFix(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      concat(
        lit("<html><head><title>t</title><style>p { color: red }</style>"),
        lit("<script>if (x < 2 && y > 1) { alert(\"hi\"); }</script></head>"),
        lit("<body><h1>Heading</h1>\n<p class=\"main\">"), col("text"),
        lit("</p><!-- hidden\ncomment --><p>&lt;tag&gt; &amp;amp; " +
          "&quot;quoted&#39; &nbsp;end</p></body></html>")).as("html"))

  /** Shared centroid side of the text-semdedup pair: off the BASE table
    * directly (one pruned scan) — filtering the union fixture would
    * re-read the plant branch just to discard it (id+900000 < 900000
    * isn't folded away). CAPPED stride (≤16 slots, the q_sample_cluster /
    * PQ-codebook budget): under the r18 anchorCap guard the pair stage no
    * longer needs |cells| to grow with the corpus (per-cell work is
    * n·cap, not n²), so an uncapped stride would only make the broadcast
    * argmin quadratic — the exact 10x breach the r17-close measured. The
    * verify-only _full twin keeps the uncapped stride (its all-pairs form
    * is what still needs cells to scale). */
  private def semdedupTextCentroids(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") % 101 === 0 && col("doc_id") < 1616)
      .select(col("doc_id").as("vec_id"),
        graft.llm.Embed.hashedEmbedding(col("text")).as("embedding"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // HTML boilerplate strip (the WET-extraction regex battery): script/
    // style/comment payloads dropped, tags stripped, entities decoded
    // (&amp; last), whitespace collapsed — per-doc cleaned text + sizes.
    "q_html_clean" -> ((s, d) => {
      docsHtmlFix(s, d)
        .select(col("doc_id"),
          Html.toText(col("html")).as("clean_text"),
          length(col("html")).cast("long").as("n_raw"),
          length(Html.toText(col("html"))).cast("long").as("n_clean"))
    }),

    // Robots meta opt-out gate (r18): the publisher-opt-out pass a
    // responsible curation runs before keeping any text. Six fixture
    // arms: blocked via name-first NOINDEX (case), blocked via
    // content-first 'none' with an unquoted name attr, kept index/follow,
    // kept noindex-for-ANOTHER-agent (googlebot ≠ robots), kept no-meta,
    // kept cross-tag trap (r19 advice: a bare name-only tag followed by
    // prose containing content="noindex before the next '>' must not
    // match across the tag close).
    // The oracle re-runs the SAME two RE2-subset patterns in DuckDB over
    // the reconstructed html (the redactPii shared-pattern discipline).
    "q_html_robots_gate" -> ((s, d) => {
      val arm = pmod(col("doc_id"), lit(6))
      val meta = when(arm === 0,
          lit("<meta name=\"ROBOTS\" content=\"NOINDEX, follow\">"))
        .when(arm === 1, lit("<meta content='none' name=robots>"))
        .when(arm === 2, lit("<meta name=\"robots\" content=\"index, follow\">"))
        .when(arm === 3, lit("<meta name=\"googlebot\" content=\"noindex\">"))
        .when(arm === 5,
          lit("<meta name=robots>stray prose content=\"noindex none\" trap"))
        .otherwise(lit(""))
      Tables.documents(s, d)
        .withColumn("html", concat(lit("<html><head>"), meta,
          lit("</head><body><p>"), col("text"), lit("</p></body></html>")))
        .filter(!graft.llm.Html.robotsNoindex(col("html")))
        .select(col("doc_id"), pmod(col("doc_id"), lit(6)).cast("long").as("arm"))
    }),

    // BM25 targeted mining: top-50 docs for the literal term query,
    // ranked on the 6-dp-rounded score (engine-stable boundary).
    "q_bm25_mine" -> ((s, d) => {
      Retrieval.withBm25(Tables.documents(s, d), col("text"), Bm25Terms)
        .select(col("doc_id"), round(col("bm25"), 6).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(50)
    }),

    // DSIR (Xie et al. 2023): integer milli-nat importance weight of every
    // raw doc against the lang='en' target slice — hashed-bigram bucket
    // log-likelihood ratios, summed per doc at scan speed.
    "q_dsir_weights" -> ((s, d) => {
      val raw = Tables.documents(s, d)
      Dsir.withWeights(raw, raw.filter(col("lang") === "en"), col("text"))
        .select(col("doc_id"), col("lang"), col("dsir_w"))
    }),

    // The selection step: top-100 most target-like docs, deterministic
    // (w DESC, doc_id) tiebreak — the resample that makes the raw corpus
    // look like the target.
    "q_dsir_select" -> ((s, d) => {
      val raw = Tables.documents(s, d)
      Dsir.select(raw, raw.filter(col("lang") === "en"), col("text"),
          col("doc_id"), k = 100)
        .select(col("doc_id"), col("lang"), col("dsir_w"))
    }),

    // Corpus-trained conditional trigram LM — the learned model's top-20
    // rows (count-desc head; the full model keeps TopM=4096).
    "q_lm_train" -> ((s, d) => {
      LmTrain.trainModel(Tables.documents(s, d), col("text"))
        .orderBy(col("cnt").desc, col("tri"))
        .limit(20)
    }),

    // Every doc scored under the trained model: total milli-nat NLL and
    // the per-window signal — CCNet's perplexity filter with the reference
    // model estimated from the corpus itself.
    "q_lm_train_score" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      LmTrain.withTrainedNll(docs, col("text"),
          LmTrain.collectModel(LmTrain.trainModel(docs, col("text"))))
        .select(col("doc_id"), col("n_win"), col("nll_t"), col("lm_t_mw"))
    }),

    // Exact substring duplication (Lee et al. 2022): per-doc w-token-window
    // report over the cross-copy fixture. Docs under W tokens carry no
    // windows and are excluded (matching the oracle's len(t) >= W guard).
    "q_dedup_substring" -> ((s, d) => {
      SpanDedup.report(docsSpanFix(s, d), col("doc_id"), col("text"))
    }),

    // Substring-dedup APPLY: duplicated w-token windows keep only their
    // global first occurrence; other occurrences' tokens are cut. Plant
    // docs lose their copied prefix, base docs (the owners) keep theirs.
    "q_dedup_substring_apply" -> ((s, d) => {
      SpanDedup.dedupApply(docsSpanFix(s, d), col("doc_id"), col("text"))
    }),

    // Engine-native document embedder (r16 verdict #6): fixed-dim
    // hashed-bigram count vector per doc — the no-model baseline that
    // feeds the whole embedding stack from a raw text column. Integer
    // counts ⇒ full oracle on the vector itself, serialized to a CSV
    // string (registered queries emit atomic columns only — the driver's
    // canonicalizer cannot hash array cells; r17 verdict #1).
    "q_embed_hashed" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.llm.Embed.hashedEmbedding(col("text")).as("embedding"))
        .select(col("doc_id"),
          aggregate(col("embedding"), lit(0L), (a, v) => a + v).as("n_grams"),
          concat_ws(",", col("embedding")).as("embedding_csv"))
    }),

    // End-to-end semantic dedup from TEXT: embed (hashed bigrams) →
    // normalize → exact-collapse → stride cells → anchor-capped
    // within-cell cosine → survivors, one plan, no pre-supplied
    // embeddings table. Exact-copy plants embed identically (normalized
    // vectors bit-identical) and drop in the LINEAR exact stage; the full
    // chain is integer/identical-IEEE-op arithmetic, so the oracle
    // recomputes embeddings, collapse, cells, capped pairs, and survivors
    // from scratch. anchorCap=64 is the r17-verdict-#3 production guard:
    // the 10x replica's measured quadratic (a same-domain corpus
    // concentrates ~10% of hashed-bigram vectors in one dense clump →
    // ~80M within-cell pairs under the paper's all-pairs form, which
    // survives finer quantization AND the nBits sign guard) becomes
    // n·64 per cell — linear. q_dedup_semdedup_text_full keeps the
    // paper's uncapped form as the verify-only twin; EmbedSpec pins
    // capped ⊇ uncapped with plants dropped in both.
    "q_dedup_semdedup_text" -> ((s, d) => {
      graft.llm.Similarity.semDeDupSurvivors(docsEmbFix(s, d),
          centroids = semdedupTextCentroids(s, d), tau = 0.999, nBits = 0,
          anchorCap = 64)
        .select(col("vec_id"))
    }),

    // The paper's literal all-pairs form over the same text→embed chain —
    // verify-only (its within-cell quadratic on the clumped corpus is the
    // retired 10x waiver); stays as the full-oracle semantics pin.
    "q_dedup_semdedup_text_full" -> ((s, d) => {
      graft.llm.Similarity.semDeDupSurvivors(docsEmbFix(s, d),
          centroids = Tables.documents(s, d)
            .filter(col("doc_id") % 101 === 0)
            .select(col("doc_id").as("vec_id"),
              graft.llm.Embed.hashedEmbedding(col("text")).as("embedding")),
          tau = 0.999, nBits = 0)
        .select(col("vec_id"))
    }),

    // Cluster-balanced subsample: integer-L2 cells over the CAPPED stride
    // centroids (fixed 16-slot budget, the PQ-codebook pattern — an
    // uncapped stride grows |centroids| with the corpus and the broadcast
    // argmin goes quadratic), ≤10 members per cell in deterministic
    // scrambled-id order — the topic-balance pass.
    "q_sample_cluster" -> ((s, d) => {
      graft.llm.Sampling.clusterBalanced(
          Tables.embeddings(s, d),
          Tables.embeddings(s, d).filter(col("vec_id") % 101 === 0 &&
            col("vec_id") < 1616),
          k = 10)
        .select(col("cell"), col("vec_id"))
    }),

    // URL canonicalization (r17 verdict #4 — the crawl's first mile):
    // fragment stripped, scheme+authority lowercased, default port
    // dropped, tracking params removed. The fixture synthesizes per-doc
    // URLs with planted twins: of every 3 consecutive docs, variant 0
    // (upper-case authority + :80 + #frag) and variant 1 (utm-only query)
    // canonicalize IDENTICALLY; variant 2 keeps a real param and stays
    // distinct. Every step is a codegen'd RE2-subset regex / HOF filter —
    // one scan, zero shuffle, restated verbatim in DuckDB.
    "q_url_canon" -> ((s, d) => {
      docsUrlFix(s, d)
        .select(col("doc_id"), col("url"),
          graft.llm.UrlCuration.canonicalize(col("url")).as("url_canon"))
        .withColumn("host", graft.llm.UrlCuration.host(col("url_canon")))
    }),

    // URL dedup keep-first-fetch: one map-side-combined groupBy on the
    // canon key — the cheapest dedup a crawl runs, BEFORE any text parse.
    // At crawl scale the canon key is near-unique, so the combine carries
    // little dup weight and the shuffle is the irreducible one a global
    // dedup needs (no window, no join-back).
    "q_url_dedup" -> ((s, d) => {
      docsUrlFix(s, d)
        .select(graft.llm.UrlCuration.canonicalize(col("url"))
          .as("url_canon"), col("doc_id"))
        .groupBy(col("url_canon"))
        .agg(min(col("doc_id")).as("keeper_id"),
          count(lit(1)).as("n_fetches"))
    }),

    // Per-domain cap (r18): the crawl-balance pass after URL dedup — no
    // host may contribute more than k pages, keepers chosen by the
    // deterministic scramble-key rank (the q_sample_capped discipline:
    // uniform pseudo-random, engine-restatable, and the two-phase salted
    // top-k means no task ever sorts a whole mega-domain). Chain: canon →
    // first-fetch keeper per URL → host key → capped top-k.
    "q_url_domain_cap" -> ((s, d) => {
      val kept = docsUrlFix(s, d)
        .select(graft.llm.UrlCuration.canonicalize(col("url"))
          .as("url_canon"), col("doc_id"))
        .groupBy(col("url_canon"))
        .agg(min(col("doc_id")).as("doc_id"))
        .withColumn("host", graft.llm.UrlCuration.host(col("url_canon")))
      graft.llm.Sampling.topKPerGroup(kept, col("host"), col("doc_id"), k = 10)
        .select(col("host"), col("doc_id"))
    }),

    // Group-aware train/val/test split (r18): the leakage guard every
    // dedup paper recommends — split by HOST, not by document, so the
    // near-duplicates a domain inevitably carries can never straddle the
    // eval boundary. The host's portable poly hash (the winnow-family
    // code-point fold, restated verbatim in DuckDB) feeds the same
    // scramble-key split arithmetic q_split uses; output proves the
    // invariant in data — every host lands in exactly ONE split row.
    "q_split_by_host" -> ((s, d) => {
      docsUrlFix(s, d)
        .select(col("doc_id"),
          graft.llm.UrlCuration.host(
            graft.llm.UrlCuration.canonicalize(col("url"))).as("host"))
        .withColumn("hkey", element_at(
          graft.functions.TokenWindowHashesExpr.hashes(array(col("host")), 1), 1))
        .withColumn("split", graft.llm.Sampling.splitLabel(col("hkey"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
        .groupBy(col("host"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // URL blocklist filter (the C4 badlist / RefinedWeb URL-filter pass):
    // exact-or-dot-suffix domain match + pattern match, both against the
    // CANONICAL url, as literal codegen'd predicates (a blocklist is
    // config, not data — no join). The fixture's host pool plants one
    // exact-blocked domain, two suffix-blocked ones, and a /casino/
    // pattern arm; the dot-suffix rule must NOT catch notbad-style
    // siblings (UrlCurationSpec pins that boundary).
    // PERSIST barrier (r21): the blocklist FILTER references the
    // canonicalize battery, and predicate pushdown drags it below any
    // projection back into the scan (measured on the r19 shape: the battery
    // inlined ~3× inside the pushed filter, 113 regexp ops on the Filter
    // node, plus once in the output projection). The cache boundary is the
    // only shape Catalyst cannot re-inline through: the battery runs exactly
    // once per row into a (doc_id, url_canon, host) relation — the URL
    // table, input-sized — and the blocklist predicate reads the cache
    // (CacheHygiene releases per query).
    "q_url_filter" -> ((s, d) => {
      val canon = docsUrlFix(s, d)
        .select(col("doc_id"),
          graft.llm.UrlCuration.canonicalize(col("url")).as("url_canon"))
        .withColumn("host", graft.llm.UrlCuration.host(col("url_canon")))
        .persist()
      graft.llm.UrlCuration.blocklistFilter(canon, col("url_canon"))
        .select(col("doc_id"), col("host"), col("url_canon"))
    }))

  /** URL fixture host pool — position 2 is mixed-case (canonicalization
    * must lowercase it), 3 exact-blocked, 4 and 7 suffix-blocked by
    * `bad.example`. Shared with the oracle CTE via [[urlHostsSqlList]]. */
  private val UrlHosts = Seq("news.example.com", "Blog.Example.org",
    "ads.tracker.example", "spam.bad.example", "shop.example.net",
    "wiki.example.org", "forum.bad.example")

  private def urlHostsSqlList: String =
    UrlHosts.map(h => s"'$h'").mkString("[", ", ", "]")

  /** Per-doc synthetic URL battery (see q_url_canon's scaladoc): groups
    * of 3 consecutive doc_ids share host+path; the variant arm decides
    * the canonicalization noise. Every 13th group's path carries the
    * /casino/ blocked-pattern arm. */
  private def docsUrlFix(s: SparkSession, d: String): DataFrame = {
    val g = floor(col("doc_id") / 3).cast("long")
    val host = element_at(array(UrlHosts.map(lit): _*),
      (pmod(g, lit(7)) + 1).cast("int"))
    val path = concat(lit("/p/"), g.cast("string"),
      when(pmod(g, lit(13)) === 0, lit("/casino/slots")).otherwise(lit("")))
    val url = when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit("HTTP://"), upper(host), lit(":80"), path, lit("#frag")))
      .when(pmod(col("doc_id"), lit(3)) === 1,
        concat(lit("http://"), host, path,
          lit("?utm_source=feed&utm_campaign=c")))
      .otherwise(concat(lit("http://"), host, path,
        lit("?id=7&utm_medium="), col("doc_id").cast("string")))
    Tables.documents(s, d).select(col("doc_id"), url.as("url"))
  }

  /** Poly-hash SQL fold over the code points of `gramExpr` — the DuckDB
    * restatement of the WinnowFingerprintExpr-family hash for
    * variable-length strings (list_reduce with a zero seed). The (b, p)
    * pair defaults to the 31-bit contract; span-dedup's collision-guard
    * second hash passes (B2, P2) — p < 2⁴¹ keeps `h·b + c` inside
    * DuckDB's signed BIGINT, matching the engine fold exactly. */
  private def polyHashSql(gramExpr: String, b: Long = B, p: Long = P): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |             list_transform(string_split($gramExpr, ''),
       |               ch -> CAST(ord(ch) AS BIGINT))),
       |           (h, c) -> (h * $b + c) % $p)""".stripMargin

  /** Shared DSIR CTE chain: tokens → bucket ids → per-corpus bucket counts
    * (all NB buckets, absent = 0) → integer weights → per-doc sums. */
  private lazy val DsirCtes: String = {
    val nb = Dsir.NBuckets
    s"""WITH tok AS (SELECT doc_id, lang,
       |         list_filter(string_split(replace(text, chr(10), ' '), ' '),
       |                     x -> len(x) > 0) AS t
       |       FROM documents),
       |bk AS (SELECT doc_id, lang,
       |         list_transform(generate_series(1, len(t) - 1),
       |           i -> ${polyHashSql("t[i] || ' ' || t[i+1]")} % $nb) AS bks
       |       FROM tok),
       |eb AS (SELECT doc_id, lang, unnest(bks) AS b FROM bk),
       |buk AS (SELECT unnest(generate_series(0, ${nb - 1})) AS b),
       |tcn AS (SELECT buk.b, coalesce(c.cnt, 0) AS tcnt
       |        FROM buk LEFT JOIN (SELECT b, count(*) AS cnt FROM eb
       |                            WHERE lang = 'en' GROUP BY 1) c USING (b)),
       |rcn AS (SELECT buk.b, coalesce(c.cnt, 0) AS rcnt
       |        FROM buk LEFT JOIN (SELECT b, count(*) AS cnt FROM eb
       |                            GROUP BY 1) c USING (b)),
       |tot AS (SELECT (SELECT sum(tcnt) FROM tcn) AS ttot,
       |               (SELECT sum(rcnt) FROM rcn) AS rtot),
       |wt AS (SELECT t.b,
       |         CAST(round(${Dsir.Scale} *
       |                ln(((t.tcnt + 1) * 1.0 / (tot.ttot + $nb)) /
       |                   ((r.rcnt + 1) * 1.0 / (tot.rtot + $nb))) + 1e-9)
       |              AS BIGINT) AS w
       |       FROM tcn t JOIN rcn r USING (b), tot),
       |ds AS (SELECT eb.doc_id, sum(wt.w) AS s
       |       FROM eb JOIN wt USING (b) GROUP BY 1),
       |dw AS (SELECT bk.doc_id, bk.lang,
       |              CAST(coalesce(ds.s, 0) AS BIGINT) AS dsir_w
       |       FROM bk LEFT JOIN ds USING (doc_id))""".stripMargin
  }

  /** Shared trained-LM CTE chain: padded normalization → trigram/bigram
    * window counts → TopM-pruned integer-cost model. */
  private lazy val LmTrainCtes: String =
    s"""WITH nrm AS (SELECT doc_id,
       |         concat(' ', regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
       |                ' ') AS p
       |       FROM documents),
       |twin AS (SELECT doc_id,
       |           substr(p, CAST(unnest(generate_series(1, len(p) - 2)) AS INT),
       |                  3) AS tri
       |         FROM nrm),
       |bwin AS (SELECT doc_id,
       |           substr(p, CAST(unnest(generate_series(1, len(p) - 1)) AS INT),
       |                  2) AS bg
       |         FROM nrm),
       |tcg AS (SELECT tri, count(*) AS cnt FROM twin GROUP BY 1),
       |bcg AS (SELECT bg, count(*) AS c2 FROM bwin GROUP BY 1),
       |model AS (SELECT tri, cnt,
       |            CAST(-round(${LmTrain.Scale} *
       |                   ln((cnt + 1) * 1.0 / (c2 + ${LmTrain.SmoothV})) + 1e-9)
       |                 AS BIGINT) AS cost
       |          FROM tcg JOIN bcg ON substr(tri, 1, 2) = bg
       |          ORDER BY cnt DESC, tri LIMIT ${LmTrain.TopM})""".stripMargin

  /** Span-dedup CTE chain over the fixture: window hash PAIRS (h 31-bit,
    * h2 41-bit collision guard) → per-(doc, pair) occurrences → cross-doc
    * shared pairs → per-doc report — the identical two-hash keying the
    * engine runs, so the oracle covers the guard itself. */
  private lazy val SpanCtes: String = {
    val w = SpanDedup.W
    val b2 = graft.functions.TokenWindowHashesExpr.B2
    val p2 = graft.functions.TokenWindowHashesExpr.P2
    s"""WITH sfx AS (SELECT doc_id, text FROM documents
       |             UNION ALL
       |             SELECT doc_id + 700000 AS doc_id,
       |                    array_to_string(string_split(text, ' ')[1:12], ' ') ||
       |                      ' spanfix trailer tokens x y z q r s t u' AS text
       |             FROM documents WHERE doc_id % 11 = 0),
       |tok AS (SELECT doc_id,
       |          list_filter(string_split(replace(text, chr(10), ' '), ' '),
       |                      x -> len(x) > 0) AS t
       |        FROM sfx),
       |wh AS (SELECT doc_id,
       |         unnest(generate_series(1, len(t) - ${w - 1})) AS s,
       |         unnest(list_transform(generate_series(1, len(t) - ${w - 1}),
       |           i -> ${polyHashSql(s"array_to_string(t[i:i+${w - 1}], ' ')")})) AS h,
       |         unnest(list_transform(generate_series(1, len(t) - ${w - 1}),
       |           i -> ${polyHashSql(s"array_to_string(t[i:i+${w - 1}], ' ')", b2, p2)})) AS h2
       |       FROM tok WHERE len(t) >= $w),
       |pd AS (SELECT doc_id, h, h2, count(*) AS n_occ FROM wh GROUP BY 1, 2, 3),
       |sh AS (SELECT h, h2 FROM pd GROUP BY h, h2 HAVING count(*) >= 2),
       |nd AS (SELECT pd.doc_id, sum(pd.n_occ) AS n_dup
       |       FROM pd JOIN sh USING (h, h2) GROUP BY 1),
       |nw AS (SELECT doc_id, count(*) AS n_windows FROM wh GROUP BY 1)""".stripMargin
  }

  private def sq(s: String): String = "'" + s.replace("'", "''") + "'"

  /** The identical strip/decode chain as [[graft.llm.Html.toText]],
    * generated from the SAME pattern lists. */
  private def htmlToTextSql(expr: String): String = {
    val stripped = graft.llm.Html.BlockPatterns.foldLeft(expr) {
      case (e, (p, r)) => s"regexp_replace($e, ${sq(p)}, ${sq(r)}, 'g')"
    }
    val decoded = graft.llm.Html.Entities.foldLeft(stripped) {
      case (e, (k, v)) => s"replace($e, ${sq(k)}, ${sq(v)})"
    }
    s"trim(regexp_replace($decoded, '\\s+', ' ', 'g'))"
  }

  /** The fixture's markup wrap, restated. */
  private val HtmlFixSql: String =
    """SELECT doc_id,
      |  '<html><head><title>t</title><style>p { color: red }</style>' ||
      |  '<script>if (x < 2 && y > 1) { alert("hi"); }</script></head>' ||
      |  '<body><h1>Heading</h1>' || chr(10) || '<p class="main">' || text ||
      |  '</p><!-- hidden' || chr(10) || 'comment --><p>&lt;tag&gt; &amp;amp; ' ||
      |  '&quot;quoted&#39; &nbsp;end</p></body></html>' AS html
      |FROM documents""".stripMargin

  /** One BM25 term's score expression — arithmetic written in the exact
    * association order the Spark expression folds, so both engines execute
    * the identical double ops. */
  private def bm25TermSql(t: String): String = {
    val tf = s"CAST(len(list_filter(t, x -> x = ${sq(t)})) AS DOUBLE)"
    val df = s"CAST((SELECT sum(CASE WHEN list_contains(t, ${sq(t)}) " +
      s"THEN 1 ELSE 0 END) FROM tk) AS DOUBLE)"
    s"""(ln(1.0 + ((SELECT CAST(count(*) AS DOUBLE) FROM tk) - $df + 0.5) /
       |   ($df + 0.5)) * ($tf * (1.2 + 1.0)) /
       |   ($tf + 1.2 * (1.0 - 0.75 + 0.75 * CAST(len(t) AS DOUBLE) /
       |     (SELECT avg(len(t)) FROM tk))))""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "q_html_clean" ->
      s"""WITH hfx AS ($HtmlFixSql)
         |SELECT doc_id, ${htmlToTextSql("html")} AS clean_text,
         |       CAST(len(html) AS BIGINT) AS n_raw,
         |       CAST(len(${htmlToTextSql("html")}) AS BIGINT) AS n_clean
         |FROM hfx ORDER BY doc_id""".stripMargin,

    "q_bm25_mine" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t
         |            FROM documents),
         |sc AS (SELECT doc_id,
         |         ${Bm25Terms.map(bm25TermSql).mkString(" + ")} AS raw
         |       FROM tk)
         |SELECT doc_id, round(raw, 6) AS bm25 FROM sc
         |ORDER BY round(raw, 6) DESC, doc_id LIMIT 50""".stripMargin,

    "q_dsir_weights" ->
      s"""$DsirCtes
         |SELECT doc_id, lang, dsir_w FROM dw ORDER BY doc_id""".stripMargin,

    "q_dsir_select" ->
      s"""$DsirCtes
         |SELECT doc_id, lang, dsir_w FROM dw
         |ORDER BY dsir_w DESC, doc_id LIMIT 100""".stripMargin,

    "q_lm_train" ->
      s"""$LmTrainCtes
         |SELECT tri, CAST(cnt AS BIGINT) AS cnt, cost FROM model
         |ORDER BY cnt DESC, tri LIMIT 20""".stripMargin,

    // sparse restatement: matched windows join the model; the remainder
    // pays the UnseenCost floor (the LangIdScoreCtes pattern)
    "q_lm_train_score" ->
      s"""$LmTrainCtes,
         |nwv AS (SELECT doc_id, greatest(len(p) - 2, 0) AS n_win FROM nrm),
         |mh AS (SELECT t.doc_id, count(*) AS matched, sum(m.cost) AS mc
         |       FROM twin t JOIN model m USING (tri) GROUP BY 1),
         |sc AS (SELECT n.doc_id, n.n_win,
         |              coalesce(mh.mc, 0) +
         |                (n.n_win - coalesce(mh.matched, 0)) *
         |                ${graft.llm.LmScore.UnseenCost} AS nll_t
         |       FROM nwv n LEFT JOIN mh USING (doc_id))
         |SELECT doc_id, CAST(n_win AS BIGINT) AS n_win,
         |       CAST(nll_t AS BIGINT) AS nll_t,
         |       CAST(CASE WHEN n_win > 0 THEN nll_t // n_win ELSE 0 END
         |            AS BIGINT) AS lm_t_mw
         |FROM sc ORDER BY doc_id""".stripMargin,

    "q_dedup_substring" ->
      s"""$SpanCtes
         |SELECT nw.doc_id, CAST(nw.n_windows AS BIGINT) AS n_windows,
         |       CAST(coalesce(nd.n_dup, 0) AS BIGINT) AS n_dup,
         |       round(coalesce(nd.n_dup, 0) * 1.0 / nw.n_windows, 6) AS dup_frac
         |FROM nw LEFT JOIN nd USING (doc_id) ORDER BY nw.doc_id""".stripMargin,

    // owner = rank-1 occurrence of each duplicated hash in (doc, start)
    // order; every later occurrence flags its start; a token is cut when
    // any flagged [s, s+w-1] range covers it
    "q_dedup_substring_apply" ->
      s"""$SpanCtes,
         |flag AS (SELECT doc_id, s FROM (
         |           SELECT doc_id, s,
         |                  row_number() OVER (PARTITION BY h, h2
         |                                     ORDER BY doc_id, s) AS rk,
         |                  count(*) OVER (PARTITION BY h, h2) AS n
         |           FROM wh) WHERE n >= 2 AND rk > 1),
         |cuts AS (SELECT doc_id, list_sort(list(s)) AS cs FROM flag GROUP BY 1),
         |kept AS (SELECT t.doc_id, t.t,
         |           list_filter(generate_series(1, len(t.t)), j ->
         |             len(list_filter(coalesce(c.cs, []),
         |               s -> s <= j AND j < s + ${SpanDedup.W})) = 0) AS kp
         |         FROM tok t LEFT JOIN cuts c USING (doc_id))
         |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         |       CAST(len(kp) AS BIGINT) AS n_kept,
         |       coalesce(array_to_string(list_transform(kp, j -> t[j]), ' '),
         |                '') AS kept_text
         |FROM kept ORDER BY doc_id""".stripMargin,

    // the embedder restated: same token stream, same bigram poly hash
    // mod dim, per-slot occurrence counts, same CSV serialization
    "q_embed_hashed" -> {
      val dim = graft.llm.Embed.Dim
      s"""WITH tok AS (SELECT doc_id,
         |         list_filter(string_split(replace(text, chr(10), ' '), ' '),
         |                     x -> len(x) > 0) AS t
         |       FROM documents),
         |bk AS (SELECT doc_id,
         |         list_transform(generate_series(1, len(t) - 1),
         |           i -> ${polyHashSql("t[i] || ' ' || t[i+1]")} % $dim) AS bks
         |       FROM tok)
         |SELECT doc_id, CAST(len(bks) AS BIGINT) AS n_grams,
         |       array_to_string(list_transform(generate_series(0, ${dim - 1}),
         |         j -> CAST(len(list_filter(bks, b -> b = j)) AS BIGINT)), ',')
         |         AS embedding_csv
         |FROM bk ORDER BY doc_id""".stripMargin
    },

    // the full text→embed→semdedup chain recomputed from scratch: the
    // embedder CTEs over the plant fixture, then the capped q_dedup_semdedup
    // oracle's collapse/argmin/anchor-pair/anti chain verbatim
    "q_dedup_semdedup_text" -> {
      val dim = graft.llm.Embed.Dim
      s"""WITH sfx AS (SELECT doc_id, text FROM documents
         |             UNION ALL
         |             SELECT doc_id + 900000 AS doc_id, text
         |             FROM documents WHERE doc_id % 7 = 0),
         |tok AS (SELECT doc_id,
         |         list_filter(string_split(replace(text, chr(10), ' '), ' '),
         |                     x -> len(x) > 0) AS t
         |       FROM sfx),
         |bk AS (SELECT doc_id,
         |         list_transform(generate_series(1, len(t) - 1),
         |           i -> ${polyHashSql("t[i] || ' ' || t[i+1]")} % $dim) AS bks
         |       FROM tok),
         |e2 AS (SELECT doc_id AS vec_id,
         |         list_transform(generate_series(0, ${dim - 1}),
         |           j -> CAST(len(list_filter(bks, b -> b = j)) AS DOUBLE)) AS v
         |       FROM bk),
         |nrm AS (SELECT vec_id, v,
         |               list_reduce(list_transform(v, x -> x * x),
         |                 (a, b) -> a + b) AS n2
         |        FROM e2),
         |q AS (SELECT vec_id, n2,
         |             CASE WHEN n2 > 0
         |                  THEN list_transform(v, x -> x / sqrt(n2))
         |                  ELSE v END AS nv
         |      FROM nrm),
         |qq AS (SELECT vec_id, n2, nv,
         |              list_transform(nv, x -> CAST(floor(x * 100) AS BIGINT)) AS qv
         |       FROM q),
         |mn AS (SELECT vec_id, nv, qv,
         |              min(vec_id) OVER (PARTITION BY
         |                CASE WHEN n2 > 0 THEN nv
         |                     ELSE [CAST(-(vec_id + 1) AS DOUBLE)] END) AS mn
         |       FROM qq),
         |reps AS (SELECT vec_id, nv, qv FROM mn WHERE vec_id = mn),
         |exl AS (SELECT vec_id AS loser FROM mn WHERE vec_id > mn),
         |cent AS (SELECT vec_id AS cell, qv AS cqv FROM qq
         |         WHERE vec_id IN (SELECT doc_id FROM documents
         |                          WHERE doc_id % 101 = 0 AND doc_id < 1616)),
         |asg AS (SELECT r.vec_id, cent.cell,
         |               list_reduce(list_transform(generate_series(1, len(r.qv)),
         |                 i -> (r.qv[i] - cqv[i]) * (r.qv[i] - cqv[i])),
         |                 (a, b) -> a + b) AS il2
         |        FROM reps r, cent),
         |cells AS (SELECT vec_id, cell FROM asg
         |          QUALIFY row_number() OVER (PARTITION BY vec_id
         |                                     ORDER BY il2, cell) = 1),
         |k2 AS (SELECT c.vec_id, c.cell, r.nv
         |       FROM cells c JOIN reps r ON r.vec_id = c.vec_id),
         |anc AS (SELECT vec_id, cell, nv FROM (
         |          SELECT vec_id, cell, nv,
         |                 row_number() OVER (PARTITION BY cell
         |                                    ORDER BY vec_id) AS rk
         |          FROM k2) WHERE rk <= 64),
         |nls AS (
         |  SELECT DISTINCT b.vec_id AS loser
         |  FROM anc a
         |  JOIN k2 b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE list_reduce(list_transform(generate_series(1, len(a.nv)),
         |          i -> a.nv[i] * b.nv[i]), (x, y) -> x + y) >= 0.999)
         |SELECT vec_id FROM e2
         |WHERE vec_id NOT IN (SELECT loser FROM exl
         |                     UNION SELECT loser FROM nls)
         |ORDER BY vec_id""".stripMargin
    },

    // the uncapped all-pairs twin (verify-only): the r17 oracle verbatim
    "q_dedup_semdedup_text_full" -> {
      val dim = graft.llm.Embed.Dim
      s"""WITH sfx AS (SELECT doc_id, text FROM documents
         |             UNION ALL
         |             SELECT doc_id + 900000 AS doc_id, text
         |             FROM documents WHERE doc_id % 7 = 0),
         |tok AS (SELECT doc_id,
         |         list_filter(string_split(replace(text, chr(10), ' '), ' '),
         |                     x -> len(x) > 0) AS t
         |       FROM sfx),
         |bk AS (SELECT doc_id,
         |         list_transform(generate_series(1, len(t) - 1),
         |           i -> ${polyHashSql("t[i] || ' ' || t[i+1]")} % $dim) AS bks
         |       FROM tok),
         |e2 AS (SELECT doc_id AS vec_id,
         |         list_transform(generate_series(0, ${dim - 1}),
         |           j -> CAST(len(list_filter(bks, b -> b = j)) AS DOUBLE)) AS v
         |       FROM bk),
         |nrm AS (SELECT vec_id, v,
         |               list_reduce(list_transform(v, x -> x * x),
         |                 (a, b) -> a + b) AS n2
         |        FROM e2),
         |q AS (SELECT vec_id,
         |             CASE WHEN n2 > 0
         |                  THEN list_transform(v, x -> x / sqrt(n2))
         |                  ELSE v END AS nv
         |      FROM nrm),
         |qq AS (SELECT vec_id, nv,
         |              list_transform(nv, x -> CAST(floor(x * 100) AS BIGINT)) AS qv
         |       FROM q),
         |cent AS (SELECT vec_id AS cell, qv AS cqv FROM qq
         |         WHERE vec_id IN (SELECT doc_id FROM documents
         |                          WHERE doc_id % 101 = 0)),
         |asg AS (SELECT qq.vec_id, cent.cell,
         |               list_reduce(list_transform(generate_series(1, len(qv)),
         |                 i -> (qv[i] - cqv[i]) * (qv[i] - cqv[i])),
         |                 (a, b) -> a + b) AS il2
         |        FROM qq, cent),
         |cells AS (SELECT vec_id, cell FROM asg
         |          QUALIFY row_number() OVER (PARTITION BY vec_id
         |                                     ORDER BY il2, cell) = 1),
         |losers AS (
         |  SELECT DISTINCT b.vec_id AS loser
         |  FROM cells a
         |  JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  JOIN qq qa ON qa.vec_id = a.vec_id
         |  JOIN qq qb ON qb.vec_id = b.vec_id
         |  WHERE list_reduce(list_transform(generate_series(1, len(qa.nv)),
         |          i -> qa.nv[i] * qb.nv[i]), (x, y) -> x + y) >= 0.999)
         |SELECT vec_id FROM e2
         |WHERE vec_id NOT IN (SELECT loser FROM losers)
         |ORDER BY vec_id""".stripMargin
    },

    // integer-quantized argmin assignment (ties → lowest cell), then the
    // per-cell scramble-key top-10 (the q_sample_capped rank restatement)
    "q_sample_cluster" ->
      """WITH qc AS (SELECT vec_id,
        |         list_transform(CAST(embedding AS DOUBLE[]),
        |           x -> CAST(floor(x * 100) AS BIGINT)) AS nv
        |       FROM embeddings),
        |cb AS (SELECT vec_id AS cell,
        |         list_transform(CAST(embedding AS DOUBLE[]),
        |           x -> CAST(floor(x * 100) AS BIGINT)) AS cv
        |       FROM embeddings WHERE vec_id % 101 = 0 AND vec_id < 1616),
        |da AS (SELECT q.vec_id, c.cell,
        |         CAST(list_sum(list_transform(generate_series(1, len(q.nv)),
        |           t -> (q.nv[t] - c.cv[t]) * (q.nv[t] - c.cv[t]))) AS BIGINT) AS d
        |       FROM qc q CROSS JOIN cb c),
        |asg AS (SELECT vec_id, cell FROM (
        |          SELECT vec_id, cell,
        |                 row_number() OVER (PARTITION BY vec_id
        |                                    ORDER BY d, cell) AS rk
        |          FROM da) WHERE rk = 1),
        |sk AS (SELECT vec_id, cell,
        |              ((vec_id % 2147483648) * 2654435761) % 4294967296 AS sk
        |       FROM asg)
        |SELECT cell, vec_id FROM (
        |  SELECT cell, vec_id,
        |         row_number() OVER (PARTITION BY cell ORDER BY sk, vec_id) AS rk
        |  FROM sk) WHERE rk <= 10
        |ORDER BY cell, vec_id""".stripMargin,

    // the same two robots patterns, SQL-quoted, over the same arm fixture
    "q_html_robots_gate" -> {
      val Seq(p1, p2) = graft.llm.Html.robotsPatterns("robots")
        .map(_.replace("'", "''"))
      s"""WITH h AS (SELECT doc_id, doc_id % 6 AS arm,
         |  '<html><head>' ||
         |  CASE doc_id % 6
         |    WHEN 0 THEN '<meta name="ROBOTS" content="NOINDEX, follow">'
         |    WHEN 1 THEN '<meta content=''none'' name=robots>'
         |    WHEN 2 THEN '<meta name="robots" content="index, follow">'
         |    WHEN 3 THEN '<meta name="googlebot" content="noindex">'
         |    WHEN 5 THEN '<meta name=robots>stray prose content="noindex none" trap'
         |    ELSE '' END ||
         |  '</head><body><p>' || text || '</p></body></html>' AS html
         |  FROM documents)
         |SELECT doc_id, arm FROM h
         |WHERE NOT (regexp_matches(html, '$p1')
         |           OR regexp_matches(html, '$p2'))
         |ORDER BY doc_id""".stripMargin
    },

    "q_url_canon" -> s"""$UrlCanonCtes
       |SELECT doc_id, url, url_canon,
       |       regexp_extract(url_canon,
       |         '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS host
       |FROM cn ORDER BY doc_id""".stripMargin,

    "q_url_dedup" -> s"""$UrlCanonCtes
       |SELECT url_canon, min(doc_id) AS keeper_id, count(*) AS n_fetches
       |FROM cn GROUP BY 1 ORDER BY url_canon""".stripMargin,

    // keeper per canon URL → host → scramble-key rank ≤ 10 per host (the
    // q_sample_capped scramble restated)
    "q_url_domain_cap" -> s"""$UrlCanonCtes,
       |kp AS (SELECT url_canon, min(doc_id) AS doc_id FROM cn GROUP BY 1),
       |hh AS (SELECT doc_id,
       |         regexp_extract(url_canon,
       |           '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS host,
       |         ((doc_id % 2147483648) * 2654435761) % 4294967296 AS sk
       |       FROM kp),
       |r AS (SELECT host, doc_id,
       |             row_number() OVER (PARTITION BY host
       |                                ORDER BY sk, doc_id) AS rk
       |      FROM hh)
       |SELECT host, doc_id FROM r WHERE rk <= 10
       |ORDER BY host, doc_id""".stripMargin,

    // host poly hash → scramble → the q_split bound arithmetic (floor of
    // the cumulative-fraction ladder over 2^32, computed in Scala double
    // math and restated as the exact literals)
    "q_split_by_host" -> s"""$UrlCanonCtes,
       |hh AS (SELECT doc_id,
       |         regexp_extract(url_canon,
       |           '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS host
       |       FROM cn),
       |hk AS (SELECT doc_id, host,
       |         ${polyHashSql("host")} AS hkey
       |       FROM hh),
       |sp AS (SELECT doc_id, host,
       |         CASE WHEN ((hkey % 2147483648) * 2654435761) % 4294967296
       |                   < 3435973836 THEN 'train'
       |              WHEN ((hkey % 2147483648) * 2654435761) % 4294967296
       |                   < 3865470566 THEN 'val'
       |              ELSE 'test' END AS split
       |       FROM hk)
       |SELECT host, split, count(*) AS n_docs
       |FROM sp GROUP BY 1, 2 ORDER BY host""".stripMargin,

    "q_url_filter" -> {
      val dom = graft.llm.UrlCuration.DefaultBlockedDomains.map(dd =>
        s"host = '$dd' OR ends_with(host, '.$dd')").mkString(" OR ")
      val pat = graft.llm.UrlCuration.DefaultBlockedPatterns.map(p =>
        s"regexp_matches(url_canon, '$p')").mkString(" OR ")
      s"""$UrlCanonCtes,
         |hh AS (SELECT doc_id, url_canon,
         |         regexp_extract(url_canon,
         |           '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS host
         |       FROM cn)
         |SELECT doc_id, host, url_canon FROM hh
         |WHERE NOT ($dom) AND NOT ($pat)
         |ORDER BY doc_id""".stripMargin
    })

  /** The url fixture + canonicalization chain restated: same host pool,
    * same variant arms, then the exact [[graft.llm.UrlCuration]] steps —
    * fragment strip, authority extract+lowercase+deport, query split,
    * tracking-param list_filter, reassembly. */
  private lazy val UrlCanonCtes: String =
    s"""WITH uf AS (
       |  SELECT doc_id, doc_id // 3 AS g,
       |         ($urlHostsSqlList)[CAST((doc_id // 3) % 7 + 1 AS INT)] AS host
       |  FROM documents),
       |up AS (SELECT doc_id, g, host,
       |         '/p/' || CAST(g AS VARCHAR) ||
       |           CASE WHEN g % 13 = 0 THEN '/casino/slots' ELSE '' END AS path
       |       FROM uf),
       |u AS (SELECT doc_id,
       |        CASE WHEN doc_id % 3 = 0
       |               THEN 'HTTP://' || upper(host) || ':80' || path || '#frag'
       |             WHEN doc_id % 3 = 1
       |               THEN 'http://' || host || path ||
       |                    '?utm_source=feed&utm_campaign=c'
       |             ELSE 'http://' || host || path ||
       |                  '?id=7&utm_medium=' || CAST(doc_id AS VARCHAR)
       |        END AS url
       |      FROM up),
       |c1 AS (SELECT doc_id, url, regexp_replace(url, '#.*', '') AS u0 FROM u),
       |c2 AS (SELECT *, regexp_extract(u0,
       |         '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1) AS pre FROM c1),
       |c3 AS (SELECT *, substr(u0, len(pre) + 1) AS rest,
       |         regexp_replace(regexp_replace(lower(pre),
       |           '^(http://[^/:?#]+):80$$', '\\1'),
       |           '^(https://[^/:?#]+):443$$', '\\1') AS pre2 FROM c2),
       |c4 AS (SELECT *, regexp_extract(rest, '^([^?]*)', 1) AS pth FROM c3),
       |c5 AS (SELECT *, substr(rest, len(pth) + 2) AS qs FROM c4),
       |c6 AS (SELECT *, list_filter(string_split(qs, '&'),
       |         q -> q <> '' AND NOT regexp_matches(q,
       |           '${graft.llm.UrlCuration.TrackingParamRe}')) AS ps FROM c5),
       |cn AS (SELECT doc_id, url,
       |         CASE WHEN pre = '' THEN url
       |              ELSE pre2 || pth ||
       |                CASE WHEN len(ps) > 0
       |                     THEN '?' || array_to_string(ps, '&')
       |                     ELSE '' END
       |         END AS url_canon
       |       FROM c6)""".stripMargin
}
