package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Decontamination, Dedup, Multimodal, Similarity, TextAnalysis}
import graft.model.Tables

/** Training-data-pipeline operator queries over `documents`/`embeddings`:
  * deduplication (exact / n-gram Jaccard / MinHash-LSH / SimHash), text
  * analysis, ANN similarity, and multimodal metadata.
  *
  * The synthetic corpus has no duplicates, so the dedup queries plant them
  * deterministically: a union with verbatim copies (exact dup) or with
  * 3-token-appended mutants (near dup), both restatable in the DuckDB oracle.
  * Hash-based operators (MinHash/SimHash/LSH buckets) cannot be restated in
  * DuckDB (no xxhash64) — those register WITHOUT an oracle (driver rows-only
  * check) and are pinned instead by `LlmSpec` unit tests against the exact
  * operators on the same fixture. Each family additionally carries a fully
  * oracle-checked twin that exercises the same plumbing under a restatable
  * projection: q_ann_lsh_all / q_ann_ivf_all (bucketing ≡ brute force),
  * q_dedup_simhash_det (md5-projection simhash voting + banding), and
  * q_dedup_minhash_det (md5-packed shingle values + integer universal-hash
  * signature mins + signature-row band keys).
  */
object LlmQueries {

  import OracleDefs.Stopwords

  /** documents ∪ verbatim copies of every 7th doc (ids offset by 100000). */
  def docsExactDups(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs.unionAll(docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
  }

  /** embeddings ∪ scaled copies (×0.5) of every 9th vector (ids offset by
    * 200000): same direction ⇒ cosine exactly 1, same LSH bucket always. */
  def embScaledDups(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    emb.unionAll(emb.filter(col("vec_id") % 9 === 0)
      .select((col("vec_id") + 200000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(0.5f)).as("embedding")))
  }

  /** PPM payload fixture with PERCEPTUAL plants (r17 verdict #5): every
    * doc's printable-ASCII-sanitized text becomes a P6 raster (the
    * [[graft.llm.Multimodal.asPpm]] construction; sanitizing first keeps
    * byte == code point, so the DuckDB oracle can address raster bytes
    * with ord/substr); every 3rd doc re-appears twice —
    *   - RE-ENCODED at id+500000: a header comment injected, raster bytes
    *     identical — a different blob, the same image;
    *   - RESIZED at id+600000: true 2× nearest-neighbor upscale of the
    *     raster (every pixel duplicated in both axes; the source padded
    *     with NUL to a complete 3wh raster so pixel groups stay aligned),
    *     dims doubled in the header.
    * Both plants sample to the SAME 9×8 luminance grid as their original
    * (integer-div sampling: floor(floor(2xw/9)/2) = floor(xw/9)), so
    * their dHash is bit-identical while their payload bytes differ — the
    * exact gap byte-exact dedup cannot close. */
  def ppmDupFix(s: SparkSession, d: String): DataFrame = {
    // dims sized so the text COVERS the raster (3wh ≤ n): a raster that
    // trails off into implicit zero bytes makes every short doc a
    // mostly-black image, and mostly-black images all collide at
    // hamming ≤ 3 — a quadratic pair set that is fixture artifact, not
    // semantics (measured: 33k pairs over 834 images before this guard)
    val wh = Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_replace(col("text"), "[^\\x20-\\x7e]", ".").as("t"))
      .withColumn("n", length(col("t")).cast("long"))
      .withColumn("w", col("n") % 4 + 9)
      .withColumn("h", expr("greatest(n div (3 * w), 1)"))
    val base = wh.select(col("doc_id"),
      encode(concat(lit("P6 "), col("w"), lit(" "), col("h"),
        lit(" 255\n"), col("t")), "UTF-8").as("payload"))
    val plants = wh.filter(col("doc_id") % 3 === 0)
    val reenc = plants.select((col("doc_id") + 500000L).as("doc_id"),
      encode(concat(lit("P6 # graft re-encode\n"), col("w"), lit(" "),
        col("h"), lit(" 255\n"), col("t")), "UTF-8").as("payload"))
    val resized = plants
      .withColumn("full",
        expr("t || repeat(chr(0), cast(greatest(3*w*h - n, 0) as int))"))
      .withColumn("up", expr(
        """array_join(transform(sequence(cast(0 as bigint), 2*h-1), y2 ->
          |  array_join(transform(sequence(cast(0 as bigint), 2*w-1), x2 ->
          |    substring(full, cast(3*((y2 div 2)*w + (x2 div 2)) as int) + 1, 3)),
          |  '')), '')""".stripMargin))
      .select((col("doc_id") + 600000L).as("doc_id"),
        encode(concat(lit("P6 "), col("w") * 2, lit(" "), col("h") * 2,
          lit(" 255\n"), col("up")), "UTF-8").as("payload"))
    base.unionAll(reenc).unionAll(resized)
  }

  /** Mixed-format perceptual-hash fixture (r19 verdict #2): [[ppmDupFix]]
    * plus a PNG arm and a JPEG arm, each with its own re-encode plant, so
    * ONE query drives every raster format through the magic dispatch into
    * the shared grayDHash core:
    *   - PNG base at +2000000 (sanitized text as an 8-bit grayscale PNG,
    *     filter-0 scanlines); every 3rd doc re-encoded at +2500000 with
    *     SUB-filtered scanlines — different IDAT bytes, identical
    *     defiltered raster, identical hash (defilter invariance);
    *   - JPEG base at +3000000 (DC-exact constant-block baseline grayscale,
    *     dcQ=8); every 3rd doc re-quantized at +3500000 with dcQ=4 —
    *     different quant table and Huffman stream, identical decoded
    *     raster, identical hash (requant invariance);
    *   - COLOR JPEG base at +4000000 (r19 verdict #1: 3-component 4:2:0
    *     YCbCr baseline, DC-exact constant Y blocks on the SAME grid as
    *     the grayscale arm, constant chroma planes cb=90/cr=170); every
    *     3rd doc CHROMA-ALTERED at +4500000 (cb=170/cr=90) — every
    *     entropy byte past the headers changes, the luma raster doesn't,
    *     so the plant hashes EQUAL (luma-only invariance). The color
    *     arm's hash also equals the grayscale arm's for the same doc —
    *     cross-arm evidence the interleaved MCU walk lands Y exactly;
    *   - PROGRESSIVE re-encode (r20: SOF2, the full libjpeg scan script —
    *     DC point transform + refinement, split AC bands, successive
    *     approximation, chroma scans the luma-only decode steps over) at
    *     +5000000 for every 3rd doc — a wholly different wire format of
    *     the same image, identical decoded luma, identical hash.
    * Sanitized to printable ASCII like ppmDupFix so the oracle's ord()
    * sees the same bytes the encoders consumed. */
  def mediaPhashFix(s: SparkSession, d: String): DataFrame = {
    val san = Tables.documents(s, d).select(col("doc_id"),
      regexp_replace(col("text"), "[^\\x20-\\x7e]", ".").as("t"))
    val png = Multimodal.asPng(
      san.select((col("doc_id") + 2000000L).as("doc_id"), col("t")),
      col("doc_id"), col("t"))
    val pngSub = Multimodal.asPngSubFiltered(
      san.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 2500000L).as("doc_id"), col("t")),
      col("doc_id"), col("t"))
    val jpg = Multimodal.asJpeg(
      san.select((col("doc_id") + 3000000L).as("doc_id"), col("t")),
      col("doc_id"), col("t"), dcQ = 8)
    val jpgRe = Multimodal.asJpeg(
      san.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 3500000L).as("doc_id"), col("t")),
      col("doc_id"), col("t"), dcQ = 4)
    val jpgColor = Multimodal.asJpegColor(
      san.select((col("doc_id") + 4000000L).as("doc_id"), col("t")),
      col("doc_id"), col("t"), dcQ = 8, cb = 90, cr = 170)
    val jpgChroma = Multimodal.asJpegColor(
      san.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 4500000L).as("doc_id"), col("t")),
      col("doc_id"), col("t"), dcQ = 8, cb = 170, cr = 90)
    val jpgProg = Multimodal.asJpegProgressive(
      san.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("t")),
      col("doc_id"), col("t"), dcQ = 8, cb = 90, cr = 170)
    ppmDupFix(s, d).unionAll(png).unionAll(pngSub)
      .unionAll(jpg).unionAll(jpgRe)
      .unionAll(jpgColor).unionAll(jpgChroma).unionAll(jpgProg)
  }

  /** WAV payload fixture with PERCEPTUAL plants — [[ppmDupFix]]'s audio
    * twin: every doc's printable-ASCII-sanitized text becomes the 8-bit
    * PCM sample stream; every 3rd doc re-appears twice —
    *   - RE-ENCODED at id+500000: a junk LIST/INFO chunk between fmt and
    *     data (the tag-editor re-encode) — same samples, different bytes;
    *   - POLARITY-INVERTED at id+600000: every sample b → (256−b) mod 256
    *     (the phase flip) — every data byte changes, every |b−128| energy
    *     term doesn't.
    * Both plants carry the original's envelope hash bit-for-bit. */
  def wavDupFix(s: SparkSession, d: String): DataFrame = {
    val san = Tables.documents(s, d).select(col("doc_id"),
      regexp_replace(col("text"), "[^\\x20-\\x7e]", ".").as("t"))
    val plants = san.filter(col("doc_id") % 3 === 0)
    Multimodal.asWav(san, col("doc_id"), col("t"))
      .unionAll(Multimodal.asWavReencoded(
        plants.select((col("doc_id") + 500000L).as("doc_id"), col("t")),
        col("doc_id"), col("t")))
      .unionAll(Multimodal.asWavInverted(
        plants.select((col("doc_id") + 600000L).as("doc_id"), col("t")),
        col("doc_id"), col("t")))
  }

  /** documents ∪ near-dup mutants of every 11th doc: 3 novel tokens appended
    * (ids offset by 200000) — Jaccard vs the original ≈ (T−2)/(T+1) ≈ 0.94. */
  def docsNearDups(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs.unionAll(docs.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 200000L).as("doc_id"),
        concat(col("text"), lit(" zz0 zz1 zz2")).as("text")))
  }

  private val DupCte =
    """WITH d2 AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0)""".stripMargin

  /** Shared dHash CTE chain for the q_mm_phash oracles: sanitized text →
    * (w, h) → 9×8 integer-div sample grid (gi = y·9+x; missing raster
    * bytes read 0) → 64 packed difference bits → the three fixture rows
    * per planted doc (plants hash IDENTICALLY by the floor identity
    * floor(floor(2xw/9)/2) = floor(xw/9) — see [[ppmDupFix]]). */
  private val PhashCtes =
    """WITH san AS (SELECT doc_id,
      |                    regexp_replace(text, '[^\x20-\x7e]', '.', 'g') AS t
      |             FROM documents),
      |m AS (SELECT doc_id, t, n, w, greatest(n // (3 * w), 1) AS h
      |      FROM (SELECT doc_id, t, CAST(strlen(t) AS BIGINT) AS n,
      |                   CAST(strlen(t) % 4 + 9 AS BIGINT) AS w
      |            FROM san)),
      |gr AS (SELECT doc_id,
      |         list_transform(generate_series(0, 71), gi ->
      |           list_sum(list_transform([0, 1, 2], c ->
      |             CASE WHEN 3 * (((gi // 9) * h // 8) * w
      |                           + ((gi % 9) * w // 9)) + c + 1 <= n
      |                  THEN ord(substr(t,
      |                         CAST(3 * (((gi // 9) * h // 8) * w
      |                              + ((gi % 9) * w // 9)) + c + 1 AS INT), 1))
      |                  ELSE 0 END))) AS gs
      |       FROM m),
      |ph AS (SELECT doc_id,
      |         CAST(list_sum(list_transform(generate_series(0, 63), b ->
      |           CASE WHEN gs[CAST((b // 8) * 9 + (b % 8) + 2 AS INT)] >
      |                     gs[CAST((b // 8) * 9 + (b % 8) + 1 AS INT)]
      |                THEN CASE WHEN b = 63
      |                          THEN CAST(-9223372036854775808 AS BIGINT)
      |                          ELSE CAST(1 AS BIGINT) << CAST(b AS INT) END
      |                ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS dhash
      |       FROM gr),
      |all3 AS (SELECT doc_id, dhash FROM ph
      |         UNION ALL
      |         SELECT doc_id + 500000 AS doc_id, dhash FROM ph
      |         WHERE doc_id % 3 = 0
      |         UNION ALL
      |         SELECT doc_id + 600000 AS doc_id, dhash FROM ph
      |         WHERE doc_id % 3 = 0)""".stripMargin

  /** The 64-bit dHash pack over a 72-long 1-indexed `gs` grid list —
    * PhashCtes' ph stage factored so the PNG/JPEG arms share it
    * verbatim. */
  private def dhashPackSql(src: String): String =
    s"""SELECT doc_id,
       |         CAST(list_sum(list_transform(generate_series(0, 63), b ->
       |           CASE WHEN gs[CAST((b // 8) * 9 + (b % 8) + 2 AS INT)] >
       |                     gs[CAST((b // 8) * 9 + (b % 8) + 1 AS INT)]
       |                THEN CASE WHEN b = 63
       |                          THEN CAST(-9223372036854775808 AS BIGINT)
       |                          ELSE CAST(1 AS BIGINT) << CAST(b AS INT) END
       |                ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS dhash
       |       FROM $src""".stripMargin

  /** PNG arm of the mixed q_mm_phash oracle: w = n%64+1,
    * h = max(⌈n/w⌉, 1), single-channel raster = the text bytes zero-padded
    * — gray(x, y) is one ord() lookup; base rows at +2000000, SUB-filtered
    * plants (identical raster ⇒ identical hash) at +2500000. */
  private lazy val PngPhashCtes: String =
    s"""pm AS (SELECT doc_id, t, n, w, greatest((n + w - 1) // w, 1) AS h
       |      FROM (SELECT doc_id, t, CAST(strlen(t) AS BIGINT) AS n,
       |                   CAST(strlen(t) % 64 + 1 AS BIGINT) AS w
       |            FROM san)),
       |pgr AS (SELECT doc_id,
       |         list_transform(generate_series(0, 71), gi ->
       |           CASE WHEN ((gi // 9) * h // 8) * w + ((gi % 9) * w // 9) + 1 <= n
       |                THEN ord(substr(t,
       |                       CAST(((gi // 9) * h // 8) * w
       |                            + ((gi % 9) * w // 9) + 1 AS INT), 1))
       |                ELSE 0 END) AS gs
       |       FROM pm),
       |pph AS (${dhashPackSql("pgr")}),
       |pall AS (SELECT doc_id + 2000000 AS doc_id, dhash FROM pph
       |         UNION ALL
       |         SELECT doc_id + 2500000 AS doc_id, dhash FROM pph
       |         WHERE doc_id % 3 = 0)""".stripMargin

  /** JPEG arm of the mixed q_mm_phash oracle: bw = n%5+3,
    * bh = max(⌈n/bw⌉, 1), image 8bw × 8bh of CONSTANT 8×8 blocks — the
    * decoded raster is DC-exact by fixture construction, so
    * gray(x, y) = text byte at block (y÷8)·bw + (x÷8) (0 past n); base
    * rows at +3000000, requantized plants at +3500000. The COLOR arm
    * (+4000000 base, +4500000 chroma-altered plants) and the PROGRESSIVE
    * re-encode arm (+5000000) share the SAME luma arithmetic — constant Y
    * blocks on the identical grid, chroma discarded by the luma-only
    * decode, SOF0 vs SOF2 wire format invisible to the raster — so their
    * oracle rows are the same jph hashes under the shifted ids. */
  private lazy val JpegPhashCtes: String =
    s"""jm AS (SELECT doc_id, t, n, bw, greatest((n + bw - 1) // bw, 1) AS bh
       |      FROM (SELECT doc_id, t, CAST(strlen(t) AS BIGINT) AS n,
       |                   CAST(strlen(t) % 5 + 3 AS BIGINT) AS bw
       |            FROM san)),
       |jgr AS (SELECT doc_id,
       |         list_transform(generate_series(0, 71), gi ->
       |           CASE WHEN (((gi // 9) * (8 * bh) // 8) // 8) * bw
       |                     + (((gi % 9) * (8 * bw) // 9) // 8) + 1 <= n
       |                THEN ord(substr(t,
       |                       CAST((((gi // 9) * (8 * bh) // 8) // 8) * bw
       |                            + (((gi % 9) * (8 * bw) // 9) // 8) + 1 AS INT), 1))
       |                ELSE 0 END) AS gs
       |       FROM jm),
       |jph AS (${dhashPackSql("jgr")}),
       |jall AS (SELECT doc_id + 3000000 AS doc_id, dhash FROM jph
       |         UNION ALL
       |         SELECT doc_id + 3500000 AS doc_id, dhash FROM jph
       |         WHERE doc_id % 3 = 0
       |         UNION ALL
       |         SELECT doc_id + 4000000 AS doc_id, dhash FROM jph
       |         UNION ALL
       |         SELECT doc_id + 4500000 AS doc_id, dhash FROM jph
       |         WHERE doc_id % 3 = 0
       |         UNION ALL
       |         SELECT doc_id + 5000000 AS doc_id, dhash FROM jph
       |         WHERE doc_id % 3 = 0)""".stripMargin

  /** Shared audio-envelope CTE chain for the q_mm_ahash oracles: sanitized
    * text as the PCM stream → byte i lands in frame i·65 div n → per-frame
    * Σ|b−128| energies (empty frames read 0) → 64 packed difference bits →
    * the three fixture rows per planted doc (re-encode and polarity
    * inversion both hash identically — see [[wavDupFix]]). */
  private val AhashCtes =
    """WITH san AS (SELECT doc_id,
      |                    regexp_replace(text, '[^\x20-\x7e]', '.', 'g') AS t
      |             FROM documents),
      |m AS (SELECT doc_id, t, CAST(strlen(t) AS BIGINT) AS n FROM san),
      |byb AS (SELECT doc_id, ((i - 1) * 65) // n AS f,
      |               abs(ord(substr(t, CAST(i AS INT), 1)) - 128) AS a
      |        FROM m, unnest(generate_series(1, m.n)) AS g(i)),
      |en AS (SELECT doc_id, f, CAST(sum(a) AS BIGINT) AS e
      |       FROM byb GROUP BY 1, 2),
      |fr AS (SELECT m.doc_id, g.f FROM m, unnest(generate_series(0, 64)) AS g(f)),
      |en2 AS (SELECT fr.doc_id, fr.f, coalesce(en.e, 0) AS e
      |        FROM fr LEFT JOIN en ON en.doc_id = fr.doc_id AND en.f = fr.f),
      |el AS (SELECT doc_id, list(e ORDER BY f) AS es FROM en2 GROUP BY 1),
      |ph AS (SELECT doc_id,
      |         CAST(list_sum(list_transform(generate_series(0, 63), b ->
      |           CASE WHEN es[CAST(b + 2 AS INT)] > es[CAST(b + 1 AS INT)]
      |                THEN CASE WHEN b = 63
      |                          THEN CAST(-9223372036854775808 AS BIGINT)
      |                          ELSE CAST(1 AS BIGINT) << CAST(b AS INT) END
      |                ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS dhash
      |       FROM el),
      |all3 AS (SELECT doc_id, dhash FROM ph
      |         UNION ALL
      |         SELECT doc_id + 500000 AS doc_id, dhash FROM ph
      |         WHERE doc_id % 3 = 0
      |         UNION ALL
      |         SELECT doc_id + 600000 AS doc_id, dhash FROM ph
      |         WHERE doc_id % 3 = 0)""".stripMargin

  /** documents ∪ EDITED benchmark leakage (r19 verdict #3): for every
    * benchmark doc (%17==3, the q_decontam stride) a plant at +700000
    * carries its 120-char prefix CASE-FOLDED to upper with a comma
    * spliced at char 60 — the edit family real eval leakage survives.
    * The edit kills EVERY shared word-5-gram (tokens are case-sensitive,
    * so exact q_decontam provably misses the plant — pinned in
    * DecontaminationSpec) while the case-NORMALIZED character stream
    * keeps every winnow fingerprint of its unedited runs. */
  def docsFuzzyContam(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val mut = upper(concat(substring(col("text"), 1, 60), lit(","),
      substring(col("text"), 61, 60)))
    docs.unionAll(docs.filter(col("doc_id") % 17 === 3)
      .select((col("doc_id") + 700000L).as("doc_id"), mut.as("text")))
  }

  private val NearDupCte =
    """WITH d3 AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200000 AS doc_id, text || ' zz0 zz1 zz2' AS text
      |  FROM documents WHERE doc_id % 11 = 0)""".stripMargin

  /** Paragraph width (tokens) of the paragraphed-corpus fixture. Shared
    * with [[ParaCte]] (the 12s there are this constant, inlined because the
    * CTE is a plain literal — see the stripMargin note on
    * [[winnowGramHashSql]]). */
  private val ParaW = 12

  /** Paragraphed corpus: each doc's tokens re-chunked into 12-token
    * '\n'-joined paragraphs, plus a planted "quoting" doc per 13th base doc
    * (id+300000) — the original's first paragraph followed by a boilerplate
    * footer shared by ALL quoting docs. Paragraph-level dedup must strip
    * the quoted paragraph (the base doc owns the earlier occurrence) and
    * collapse the footer to its first quoting doc. */
  def docsParagraphs(s: SparkSession, d: String): DataFrame = {
    val toks = split(col("text"), " ")
    val quotes = Tables.documents(s, d).filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 300000L).as("doc_id"),
        concat_ws("\n", concat_ws(" ", slice(toks, 1, ParaW)),
          lit("quoted repost footer boilerplate")).as("text"))
    paragraphedBase(s, d).unionAll(quotes)
  }

  /** The paragraphed BASE corpus alone (no planted quotes) — the line-bearing
    * substrate the Gopher/C4 line-rule fixtures build their own plants on. */
  def paragraphedBase(s: SparkSession, d: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nChunks = ceil(size(toks).cast("double") / ParaW).cast("long")
    val ptext = concat_ws("\n",
      transform(sequence(lit(0L), nChunks - 1),
        i => concat_ws(" ", slice(toks, (i * ParaW + 1).cast("int"), lit(ParaW)))))
    Tables.documents(s, d).select(col("doc_id"), ptext.as("text"))
  }

  /** Repetition fixture: the paragraphed corpus (quotes included) plus a
    * spam mutant per 17th base doc (id+400000) — its first paragraph
    * repeated three times. Spam docs must light up the duplicate-line
    * fractions AND the top-2-gram coverage; everything else stays near 0. */
  def docsSpam(s: SparkSession, d: String): DataFrame = {
    val p1 = concat_ws(" ", slice(split(col("text"), " "), 1, ParaW))
    docsParagraphs(s, d).unionAll(
      Tables.documents(s, d).filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 400000L).as("doc_id"),
          concat_ws("\n", p1, p1, p1).as("text")))
  }

  /** Gopher-rules fixture: paragraphed base plus three rule-tripping plant
    * families — bulleted mutants (every line "- "-prefixed, id+400000,
    * %17), ellipsis mutants (every line "..."-suffixed, id+500000, %19),
    * and symbol-spam mutants (eight '#' tokens appended, id+600000, %23).
    * Base docs already exercise the word-count and stopword rules (short
    * docs fail ≥50 words; stopword-poor docs fail the ≥2-hits rule). */
  def docsGopherFix(s: SparkSession, d: String): DataFrame = {
    val b = paragraphedBase(s, d)
    val ls = split(col("text"), "\n")
    // The synthetic vocabulary carries only ONE Gopher stopword ("the"),
    // so an unenriched corpus fails the ≥2-hits rule uniformly and the
    // pass flag would be a constant. Every 3rd doc gains a stopword-rich
    // closing line — the pass flag then genuinely bisects the corpus
    // (stopword-poor and sub-50-word docs still fail).
    val enriched = b.select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat(col("text"),
          lit("\nof the and that have to be with all of it in the end")))
        .otherwise(col("text")).as("text"))
    enriched.unionAll(b.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 400000L).as("doc_id"),
          concat_ws("\n", transform(ls, l => concat(lit("- "), l))).as("text")))
      .unionAll(b.filter(col("doc_id") % 19 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"),
          concat_ws("\n", transform(ls, l => concat(l, lit("...")))).as("text")))
      .unionAll(b.filter(col("doc_id") % 23 === 0)
        .select((col("doc_id") + 600000L).as("doc_id"),
          concat(col("text"), lit(" # # # # # # # #")).as("text")))
  }

  /** C4 fixture: paragraphed base with '.' appended to every line (C4's
    * line rule keeps only terminal-punctuated lines — the synthetic corpus
    * has no punctuation of its own), plus three plant families: junk-line
    * mutants (three droppable lines appended: too short / no terminal
    * punctuation / "javascript", id+400000, %17), lorem-ipsum mutants
    * (id+500000, %19), and code-brace mutants (id+600000, %23). */
  def docsC4Fix(s: SparkSession, d: String): DataFrame = {
    val b = paragraphedBase(s, d)
    val ls = split(col("text"), "\n")
    val dotted = b.select(col("doc_id"),
      concat_ws("\n", transform(ls, l => concat(l, lit(".")))).as("text"))
    dotted.unionAll(dotted.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 400000L).as("doc_id"),
          concat_ws("\n", col("text"), lit("tiny line."),
            lit("this line has no terminal punctuation"),
            lit("please enable javascript to view this page.")).as("text")))
      .unionAll(dotted.filter(col("doc_id") % 19 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"),
          concat_ws("\n", col("text"),
            lit("lorem ipsum dolor sit amet consectetur elit.")).as("text")))
      .unionAll(dotted.filter(col("doc_id") % 23 === 0)
        .select((col("doc_id") + 600000L).as("doc_id"),
          concat_ws("\n", col("text"),
            lit("function render() { return body; }")).as("text")))
  }

  /** DuckDB restatement of [[docsParagraphs]] as relation `pdq(doc_id,
    * text)`: identical 12-token chunking ((i−1)·12+1 .. i·12 inclusive ==
    * Spark's slice(toks, i·12+1, 12) at 0-based i) and the same planted
    * quoting stride. */
  private val ParaCte =
    """WITH pdq AS (
      |  SELECT doc_id,
      |         array_to_string(list_transform(
      |           generate_series(1, CAST(ceil(len(t) / 12.0) AS BIGINT)),
      |           i -> array_to_string(t[(i-1)*12+1:i*12], ' ')), chr(10)) AS text
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |  UNION ALL
      |  SELECT doc_id + 300000 AS doc_id,
      |         array_to_string(t[1:12], ' ') || chr(10) ||
      |           'quoted repost footer boilerplate' AS text
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |  WHERE doc_id % 13 = 0)""".stripMargin

  /** DuckDB restatement of [[paragraphedBase]] as relation `pb(doc_id,
    * text)` — the quote-free paragraphed corpus the Gopher/C4 fixtures
    * plant on. Chunking arithmetic identical to [[ParaCte]]'s. */
  private val PBaseCte =
    """WITH pb AS (
      |  SELECT doc_id,
      |         array_to_string(list_transform(
      |           generate_series(1, CAST(ceil(len(t) / 12.0) AS BIGINT)),
      |           i -> array_to_string(t[(i-1)*12+1:i*12], ' ')), chr(10)) AS text
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))""".stripMargin

  /** [[docsSpam]] restated: the paragraphed corpus (quotes included, via
    * [[ParaCte]]'s pdq) plus the 3×-repeated-first-paragraph spam plant. */
  private val SpamCte = s"$ParaCte,\n" +
    """sdq AS (
      |  SELECT doc_id, text FROM pdq
      |  UNION ALL
      |  SELECT doc_id + 400000 AS doc_id,
      |         p1 || chr(10) || p1 || chr(10) || p1 AS text
      |  FROM (SELECT doc_id,
      |               array_to_string(string_split(text, ' ')[1:12], ' ') AS p1
      |        FROM documents WHERE doc_id % 17 = 0))""".stripMargin

  /** Non-English plant prose for the by-lang rule battery: each passes its
    * OWN language's rules (≥2 native stop hits, native letter class, sane
    * word lengths) and fails the English battery (zero en stop hits; the
    * Russian one also zeroes en alpha_frac) — the planted mutants the
    * per-lang seeds exist to keep. */
  private val DePlant: String = Seq.fill(3)(
    "der kleine hund läuft schnell über die grüne wiese und die katze " +
      "schläft ruhig neben dem warmen ofen im alten haus").mkString(" ")
  private val RuPlant: String = Seq.fill(3)(
    "маленькая собака бежит быстро по зелёному полю и кошка спит тихо " +
      "возле тёплой печки в старом доме под высоким небом").mkString(" ")
  /** Unsegmented Japanese — ONE space-token, so only the ja arm's
    * char-counted size rule can pass it. */
  private val JaPlant: String = Seq.fill(2)(
    "今朝の天気は晴れで空気は冷たく店が開く前の通りはとても静かだった" +
      "彼女は川沿いを歩きながら水面に変わる光を眺めて一日の始まりを楽しんだ").mkString

  /** By-lang rules fixture: the corpus with its lang stamps plus the
    * non-English plants (de at id+800000/%17, ru at id+820000/%19, and
    * unsegmented ja at id+840000/%23 — the char-size-rule case). */
  def docsLangFix(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"))
    base
      .unionAll(base.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 800000L).as("doc_id"),
          lit(DePlant).as("text"), lit("de").as("lang")))
      .unionAll(base.filter(col("doc_id") % 19 === 0)
        .select((col("doc_id") + 820000L).as("doc_id"),
          lit(RuPlant).as("text"), lit("ru").as("lang")))
      .unionAll(base.filter(col("doc_id") % 23 === 0)
        .select((col("doc_id") + 840000L).as("doc_id"),
          lit(JaPlant).as("text"), lit("ja").as("lang")))
  }

  /** [[docsGopherFix]] restated as `gdq(doc_id, text)`. */
  private val GopherCte = s"$PBaseCte,\n" +
    """gdq AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 3 = 0
      |              THEN text || chr(10) ||
      |                'of the and that have to be with all of it in the end'
      |              ELSE text END AS text
      |  FROM pb
      |  UNION ALL
      |  SELECT doc_id + 400000 AS doc_id,
      |         array_to_string(list_transform(string_split(text, chr(10)),
      |           l -> '- ' || l), chr(10)) AS text
      |  FROM pb WHERE doc_id % 17 = 0
      |  UNION ALL
      |  SELECT doc_id + 500000 AS doc_id,
      |         array_to_string(list_transform(string_split(text, chr(10)),
      |           l -> l || '...'), chr(10)) AS text
      |  FROM pb WHERE doc_id % 19 = 0
      |  UNION ALL
      |  SELECT doc_id + 600000 AS doc_id, text || ' # # # # # # # #' AS text
      |  FROM pb WHERE doc_id % 23 = 0)""".stripMargin

  /** q_gopher_rules_by_lang restated: the same fixture plants, then every
    * lang-keyed signal as a CASE chain GENERATED from the same
    * [[TextAnalysis.GopherRulesByLang]] map the engine folds — no literal
    * that can drift. Arm order and the en fallback mirror the engine's
    * sorted foldRight exactly. */
  private lazy val GopherByLangSql: String = {
    def sq1(s: String) = "'" + s.replace("'", "''") + "'"
    val ordered = TextAnalysis.GopherRulesByLang.toSeq.sortBy(_._1)
    val dflt = TextAnalysis.DefaultLangRules
    def cases(f: TextAnalysis.LangRules => String): String =
      ordered.map { case (l, r) => s"WHEN lk = ${sq1(l)} THEN ${f(r)}" }
        .mkString("CASE ", " ", s" ELSE ${f(dflt)} END")
    def stopsSql(r: TextAnalysis.LangRules): String =
      if (r.stops.isEmpty) "CAST(0 AS BIGINT)"
      else s"CAST(len(list_filter([${r.stops.map(sq1).mkString(", ")}], " +
        "w -> list_contains(t, w))) AS BIGINT)"
    def alphaSql(r: TextAnalysis.LangRules): String =
      "CASE WHEN len(t) > 0 THEN len(list_filter(t, x -> " +
        s"regexp_matches(x, ${sq1(r.letterRe)}))) * 1.0 / len(t) " +
        "ELSE 0.0 END"
    def passSql(r: TextAnalysis.LangRules): String = {
      val sizeCol = if (r.sizeByChars) "n_chars" else "n_words"
      s"(($sizeCol BETWEEN 50 AND 100000) " +
        s"AND (mean_word_len BETWEEN ${r.wordLenLo} AND ${r.wordLenHi}) " +
        s"AND stop_hits >= ${r.minStopHits})"
    }
    s"""WITH ldq AS (
       |  SELECT doc_id, text, lang FROM documents
       |  UNION ALL
       |  SELECT doc_id + 800000 AS doc_id, ${sq1(DePlant)} AS text,
       |         'de' AS lang
       |  FROM documents WHERE doc_id % 17 = 0
       |  UNION ALL
       |  SELECT doc_id + 820000 AS doc_id, ${sq1(RuPlant)} AS text,
       |         'ru' AS lang
       |  FROM documents WHERE doc_id % 19 = 0
       |  UNION ALL
       |  SELECT doc_id + 840000 AS doc_id, ${sq1(JaPlant)} AS text,
       |         'ja' AS lang
       |  FROM documents WHERE doc_id % 23 = 0),
       |sig AS (SELECT doc_id, lang, coalesce(lang, 'und') AS lk,
       |               len(text) AS n_chars,
       |               list_filter(
       |                 string_split(replace(text, chr(10), ' '), ' '),
       |                 x -> len(x) > 0) AS t,
       |               string_split(text, chr(10)) AS ls
       |        FROM ldq),
       |m AS (SELECT doc_id, lang, lk, n_chars, len(t) AS n_words,
       |             CASE WHEN len(t) > 0 THEN coalesce(
       |               list_sum(list_transform(t, x -> len(x))), 0)
       |               * 1.0 / len(t) ELSE 0.0 END AS mean_word_len,
       |             CASE WHEN len(t) > 0 THEN
       |               len(list_filter(t, x -> x = '#' OR contains(x, '...')))
       |               * 1.0 / len(t) ELSE 0.0 END AS symbol_ratio,
       |             len(list_filter(ls, l -> starts_with(l, '- ')
       |               OR starts_with(l, '* '))) * 1.0 / len(ls) AS bullet_frac,
       |             len(list_filter(ls, l -> ends_with(l, '...')))
       |               * 1.0 / len(ls) AS ellipsis_frac,
       |             ${cases(alphaSql)} AS alpha_frac,
       |             ${cases(stopsSql)} AS stop_hits
       |      FROM sig)
       |SELECT doc_id, lang, CAST(n_words AS BIGINT) AS n_words,
       |       round(mean_word_len, 6) AS mean_word_len,
       |       round(symbol_ratio, 6) AS symbol_ratio,
       |       round(alpha_frac, 6) AS alpha_frac,
       |       CAST(stop_hits AS BIGINT) AS stop_hits,
       |       ${cases(passSql)}
       |         AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
       |         AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
       |         AS gopher_pass
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** [[docsC4Fix]] restated as `cdq(doc_id, text)`. */
  private val C4Cte = s"$PBaseCte,\n" +
    """dotted AS (
      |  SELECT doc_id,
      |         array_to_string(list_transform(string_split(text, chr(10)),
      |           l -> l || '.'), chr(10)) AS text
      |  FROM pb),
      |cdq AS (
      |  SELECT doc_id, text FROM dotted
      |  UNION ALL
      |  SELECT doc_id + 400000 AS doc_id,
      |         text || chr(10) || 'tiny line.' ||
      |           chr(10) || 'this line has no terminal punctuation' ||
      |           chr(10) || 'please enable javascript to view this page.' AS text
      |  FROM dotted WHERE doc_id % 17 = 0
      |  UNION ALL
      |  SELECT doc_id + 500000 AS doc_id,
      |         text || chr(10) || 'lorem ipsum dolor sit amet consectetur elit.' AS text
      |  FROM dotted WHERE doc_id % 19 = 0
      |  UNION ALL
      |  SELECT doc_id + 600000 AS doc_id,
      |         text || chr(10) || 'function render() { return body; }' AS text
      |  FROM dotted WHERE doc_id % 23 = 0)""".stripMargin

  /** Rounds for q_bpe_train — small enough for the unrolled oracle (the
    * kmeansDet 2-round precedent), large enough that later merges build ON
    * earlier merged symbols. */
  private val BpeTrainRounds = 4

  /** DuckDB restatement of [[graft.llm.Bpe.trainMerges]]: the same rounds
    * UNROLLED — w0 is the distinct-word frequency table with char-split
    * symbol strings (chr(30) = [[graft.llm.Bpe.SymSep]]); each round
    * counts adjacent pairs, takes the (cnt DESC, l, r) winner, and
    * rewrites every word's symbol string with the same symbol-boundary-safe
    * wrapped `replace` as [[graft.llm.Bpe.mergeSyms]] (wrap each symbol in
    * separators so the pair pattern can only match two WHOLE adjacent
    * symbols — the r14 ADVICE fix). Generated, not hand-written, so the
    * round count stays a one-constant change. */
  /** Inner layer of the wrapped-replace: wrap, then merge the pair over
    * whole symbols. The OUTER layer ([[mergeSymsUnwrapSql]]) strips the
    * wrapping — two SELECT layers so `len(ws)` doesn't duplicate this
    * expression. */
  private def mergeSymsWrapSql(symExpr: String, lExpr: String, rExpr: String): String = {
    val sep = "chr(30)"
    // NULL-guarded: when the round's merge table is EMPTY (training
    // exhausted early — fewer distinct pairs than rounds) the LEFT JOIN
    // feeds NULL l/r, and a NULL inside replace() would NULL the whole
    // symbol string and empty the oracle; the CASE passes the wrapped
    // symbols through unchanged instead, matching the engine's "no more
    // merges" behavior.
    s"""CASE WHEN $lExpr IS NULL
       |     THEN $sep || replace($symExpr, $sep, $sep || $sep) || $sep
       |     ELSE replace($sep || replace($symExpr, $sep, $sep || $sep) || $sep,
       |                $sep || $lExpr || $sep || $sep || $rExpr || $sep,
       |                $sep || $lExpr || $rExpr || $sep) END""".stripMargin
  }

  private def mergeSymsUnwrapSql(wsExpr: String): String = {
    val sep = "chr(30)"
    s"replace(substr($wsExpr, 2, len($wsExpr) - 2), $sep || $sep, $sep)"
  }

  private def bpeTrainCtes(rounds: Int): String = {
    val sep = "chr(30)"
    val init =
      s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
         |w0 AS (SELECT array_to_string(string_split(tok, ''), $sep) AS sym,
         |              count(*) AS freq
         |       FROM t WHERE len(tok) > 0 GROUP BY 1)""".stripMargin
    val roundCtes = (0 until rounds).map { k =>
      s""",
         |p$k AS (SELECT l, r, sum(freq) AS cnt FROM (
         |         SELECT freq, unnest(list_transform(generate_series(1, len(s) - 1),
         |           i -> {'l': s[i], 'r': s[i+1]}), recursive := true)
         |         FROM (SELECT freq, string_split(sym, $sep) AS s FROM w$k))
         |       GROUP BY l, r),
         |m$k AS (SELECT CAST($k AS BIGINT) AS merge_rank, l, r, cnt
         |        FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
         |w${k + 1} AS (SELECT ${mergeSymsUnwrapSql("ws")} AS sym, freq
         |        FROM (SELECT freq,
         |                ${mergeSymsWrapSql("sym", "m.l", "m.r")} AS ws
         |              FROM w$k LEFT JOIN m$k m ON TRUE))""".stripMargin
    }.mkString
    init + roundCtes
  }

  private def bpeTrainSql(rounds: Int): String = {
    val union = (0 until rounds).map(k => s"SELECT * FROM m$k")
      .mkString(" UNION ALL ")
    s"""${bpeTrainCtes(rounds)}
       |SELECT merge_rank, l AS sym_l, r AS sym_r,
       |       CAST(cnt AS BIGINT) AS pair_count
       |FROM ($union) ORDER BY merge_rank""".stripMargin
  }

  /** Driver rounds × merges-per-round for q_bpe_train_batched — 16×8: the
    * conservative disjoint rule keeps ~5 of 8 slots per round on this
    * corpus, so 16 rounds lands ≥ 64 actual merges (the scale the r18
    * verdict asked the trainer to reach inside the ratio gate) from 16
    * corpus aggregations instead of 64+. */
  private val BpeBatchRounds = 16
  private val BpeBatchK = 8

  /** DuckDB restatement of [[graft.llm.Bpe.trainMergesBatched]]: per
    * driver round — ranked candidates (LIMIT [[graft.llm.Bpe.BatchCandidateFactor]]·batch),
    * the non-recursive disjointness filter (NOT EXISTS against
    * higher-ranked candidates), first `batch` kept, then one NULL-guarded
    * wrapped replace per merge SLOT (scalar subqueries feed each slot's
    * pair; an unused slot passes through via the wrap helper's CASE).
    * Global merge_rank = row_number over (round, pos) − 1. */
  private def bpeTrainBatchedSql(rounds: Int, batch: Int,
      where: String = ""): String = {
    val sep = "chr(30)"
    val limit = graft.llm.Bpe.BatchCandidateFactor * batch
    val init =
      s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok
         |       FROM documents$where),
         |b0 AS MATERIALIZED (SELECT array_to_string(string_split(tok, ''), $sep) AS sym,
         |              count(*) AS freq
         |       FROM t WHERE len(tok) > 0 GROUP BY 1)""".stripMargin
    val roundCtes = (0 until rounds).map { k =>
      val pairs =
        s""",
           |bp$k AS (SELECT l, r, sum(freq) AS cnt FROM (
           |         SELECT freq, unnest(list_transform(generate_series(1, len(s) - 1),
           |           i -> {'l': s[i], 'r': s[i+1]}), recursive := true)
           |         FROM (SELECT freq, string_split(sym, $sep) AS s FROM b$k))
           |       GROUP BY l, r),
           |bc$k AS MATERIALIZED (SELECT l, r, cnt,
           |                row_number() OVER (ORDER BY cnt DESC, l, r) AS rk
           |         FROM bp$k ORDER BY cnt DESC, l, r LIMIT $limit),
           |bk$k AS (SELECT l, r, cnt, row_number() OVER (ORDER BY rk) AS pos
           |         FROM bc$k a
           |         WHERE NOT EXISTS (SELECT 1 FROM bc$k b WHERE b.rk < a.rk
           |           AND (b.l = a.l OR b.l = a.r OR b.r = a.l OR b.r = a.r))),
           |bm$k AS MATERIALIZED (SELECT l, r, cnt, pos FROM bk$k WHERE pos <= $batch)""".stripMargin
      val slots = (1 to batch).map { j =>
        val src = if (j == 1) s"b$k" else s"b${k}_${j - 1}"
        val lq = s"(SELECT l FROM bm$k WHERE pos = $j)"
        val rq = s"(SELECT r FROM bm$k WHERE pos = $j)"
        s""",
           |b${k}_$j AS (SELECT ${mergeSymsUnwrapSql("ws")} AS sym, freq
           |        FROM (SELECT freq,
           |                ${mergeSymsWrapSql("sym", lq, rq)} AS ws
           |              FROM $src))""".stripMargin
      }.mkString
      pairs + slots +
        s""",
           |b${k + 1} AS MATERIALIZED (SELECT sym, freq FROM b${k}_$batch)""".stripMargin
    }.mkString
    val union = (0 until rounds)
      .map(k => s"SELECT $k AS rnd, pos, l, r, cnt FROM bm$k")
      .mkString(" UNION ALL ")
    s"""$init$roundCtes,
       |ball AS ($union)
       |SELECT row_number() OVER (ORDER BY rnd, pos) - 1 AS merge_rank,
       |       l AS sym_l, r AS sym_r, CAST(cnt AS BIGINT) AS pair_count
       |FROM ball ORDER BY merge_rank""".stripMargin
  }

  /** q_bpe_train_apply restated: the SAME training CTEs, then every
    * document token re-segmented by replaying the learned merges in rank
    * order (one `replace` per round, same non-overlapping semantics). */
  private def bpeTrainApplySql(rounds: Int): String = {
    val sep = "chr(30)"
    val applyCtes = (0 until rounds).map { k =>
      s""",
         |s${k + 1} AS (SELECT doc_id, ${mergeSymsUnwrapSql("ws")} AS sym
         |       FROM (SELECT doc_id,
         |               ${mergeSymsWrapSql("sym", "m.l", "m.r")} AS ws
         |             FROM s$k LEFT JOIN m$k m ON TRUE))""".stripMargin
    }.mkString
    s"""${bpeTrainCtes(rounds)},
       |dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |       FROM documents),
       |s0 AS (SELECT doc_id,
       |              array_to_string(string_split(tok, ''), $sep) AS sym
       |       FROM dt)$applyCtes,
       |ag AS (SELECT doc_id,
       |              CAST(sum(len(string_split(sym, $sep))) AS BIGINT) AS n_sub
       |       FROM s$rounds GROUP BY doc_id)
       |SELECT d.doc_id,
       |       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
       |       ag.n_sub
       |FROM documents d JOIN ag USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  }

  /** q_tokenize_ids restated: the SAME training CTEs, the SAME per-token
    * merge replay as [[bpeTrainApplySql]] but with token position carried
    * (ids are a SEQUENCE — order is the contract), then every surviving
    * symbol mapped through the id vocabulary: sorted distinct base chars
    * (row_number − 1) then merge outputs at base-size + rank, first id
    * winning a string collision (min), unknown → −1. Output is one
    * (doc_id, pos, id) row per sequence element — pos 0-based over
    * (tpos, spos), matching Spark's posexplode. */
  private def tokenizeIdsSql(rounds: Int): String = {
    val sep = "chr(30)"
    val applyCtes = (0 until rounds).map { k =>
      s""",
         |i${k + 1} AS (SELECT doc_id, tpos, ${mergeSymsUnwrapSql("ws")} AS sym
         |       FROM (SELECT doc_id, tpos,
         |               ${mergeSymsWrapSql("sym", "m.l", "m.r")} AS ws
         |             FROM i$k LEFT JOIN m$k m ON TRUE))""".stripMargin
    }.mkString
    val mergeUnion = (0 until rounds).map(k =>
      s"SELECT merge_rank, l, r FROM m$k").mkString(" UNION ALL ")
    s"""${bpeTrainCtes(rounds)},
       |vb AS (SELECT ch AS sym,
       |              CAST(row_number() OVER (ORDER BY ch) - 1 AS BIGINT) AS id
       |       FROM (SELECT DISTINCT unnest(string_split(tok, '')) AS ch
       |             FROM t WHERE len(tok) > 0)),
       |mv AS (SELECT l || r AS sym,
       |              (SELECT count(*) FROM vb) + merge_rank AS id
       |       FROM ($mergeUnion)),
       |voc AS (SELECT sym, min(id) AS id
       |        FROM (SELECT * FROM vb UNION ALL SELECT * FROM mv) GROUP BY sym),
       |dt0 AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |dt AS (SELECT doc_id, unnest(generate_series(1, len(tk))) AS tpos, tk
       |       FROM dt0),
       |i0 AS (SELECT doc_id, tpos,
       |              array_to_string(string_split(tk[tpos], ''), $sep) AS sym
       |       FROM dt WHERE len(tk[tpos]) > 0)$applyCtes,
       |sy AS (SELECT doc_id, tpos, string_split(sym, $sep) AS ss
       |       FROM i$rounds),
       |ex AS (SELECT doc_id, tpos,
       |              unnest(generate_series(1, len(ss))) AS spos, ss
       |       FROM sy),
       |idr AS (SELECT e.doc_id, e.tpos, e.spos,
       |               coalesce(v.id, CAST(-1 AS BIGINT)) AS id
       |        FROM ex e LEFT JOIN voc v ON v.sym = e.ss[e.spos])
       |SELECT doc_id,
       |       CAST(row_number() OVER (PARTITION BY doc_id
       |                               ORDER BY tpos, spos) - 1 AS BIGINT) AS pos,
       |       id
       |FROM idr ORDER BY doc_id, pos""".stripMargin
  }

  /** Shared plan for q_quality_cut and its det twin — only the threshold
    * aggregate differs (approx_percentile in production, exact percentile in
    * the oracle instrument). The broadcast hint is safe here unlike
    * dedup-apply's: the threshold relation is ONE row by construction. */
  private def qualityCut(s: SparkSession, d: String, thrAgg: Column): DataFrame = {
    val st = TextAnalysis.withStats(Tables.documents(s, d), col("text"), Stopwords)
      .select(col("doc_id"), col("quality"))
    val thr = st.agg(thrAgg.as("thr"))
    st.join(broadcast(thr))
      .filter(col("quality") >= col("thr"))
      .agg(count(lit(1)).as("n_kept"),
        round(min(col("quality")), 6).as("min_kept_quality"),
        round(any_value(col("thr")), 6).as("threshold"))
  }

  /** Per-language [[qualityCut]]: one threshold per `lang` group instead of
    * one global scalar — the curation pass a multilingual corpus actually
    * needs, because quality scores are not comparable across languages (a
    * stopword-ratio term scored against an English stopword list
    * systematically ranks non-English text lower; a global P75 would
    * silently discard most of the non-English corpus). The thresholds
    * relation is |languages| rows — broadcast by construction, corpus
    * shuffled only for the two narrow aggregations. */
  private def qualityCutByLang(s: SparkSession, d: String, thrAgg: Column): DataFrame = {
    val st = TextAnalysis.withStats(Tables.documents(s, d), col("text"), Stopwords)
      .select(col("doc_id"), col("lang"), col("quality"))
    groupedSignalCut(st, "quality", thrAgg, keepAtOrAbove = true,
      round(min(col("quality")), 6).as("min_kept_quality"))
  }

  /** The shared per-language threshold-cut shape under [[qualityCutByLang]]
    * and [[lmCutByLang]]: per-lang threshold aggregate over the signal
    * (cast double so the approx and exact forms share one output schema) →
    * broadcast |langs|-row join → keep-side filter (≥ for goodness
    * signals, ≤ for cost signals) → per-lang rollup. */
  private def groupedSignalCut(st: DataFrame, signal: String, thrAgg: Column,
      keepAtOrAbove: Boolean, keptStat: Column): DataFrame = {
    val thr = st.groupBy(col("lang")).agg(thrAgg.cast("double").as("thr"))
    st.join(broadcast(thr), "lang")
      .filter(if (keepAtOrAbove) col(signal) >= col("thr")
              else col(signal) <= col("thr"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), keptStat,
        round(any_value(col("thr")), 6).as("threshold"))
  }

  /** Per-language perplexity curation — the CCNet cut over [[graft.llm.LmScore]]'s
    * signal: keep documents AT OR UNDER their language's median
    * nll_mw (LOW perplexity = fluent; the comparison inverts
    * [[qualityCutByLang]]'s because this score is a cost). Same
    * derive-then-filter shape, same production/det split: approx_percentile
    * (GK sketch, bounded memory at any corpus size) benches; exact
    * percentile is the oracle instrument. thr is cast to double so both
    * forms share one output schema. */
  private def lmCutByLang(s: SparkSession, d: String, thrAgg: Column): DataFrame = {
    val p = graft.llm.LangId.padded(col("text"))
    val st = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        graft.llm.LmScore.nllPerWindow(graft.llm.LmScore.nll(p),
          graft.llm.LangId.nWindows(p)).as("nll_mw"))
    groupedSignalCut(st, "nll_mw", thrAgg, keepAtOrAbove = false,
      max(col("nll_mw")).as("max_kept_mw"))
  }

  /** Oracle CTE chain for the LM perplexity score — continues a chain that
    * already defines `t(doc_id, …, p)` (padded normalized text) and
    * `nw(doc_id, …, n_win)`: the cost literals, the sparse matched-window
    * sums, and `lmmw(doc_id, nll, lm_mw)` — the exact integer sum
    * [[graft.functions.LmNllExpr]] computes (matched costs + unseen-floor
    * remainder) and its per-window division. Shared by q_lm_perplexity,
    * q_lm_cut_by_lang_det, q_source_report, and q_corpus_stats so the LM
    * arithmetic cannot drift between oracles. Single-line fragments
    * (stripMargin safety). */
  private lazy val LmWindowCtes: String =
    s"lmp(lmtri, lmw) AS (VALUES\n${graft.llm.LmScore.costsSqlValues}),\n" +
      "lmtri0 AS (SELECT doc_id, substr(p, CAST(unnest(generate_series(1, len(p) - 2)) AS INT), 3) AS lmtri FROM t), " +
      "lmhit AS (SELECT x.doc_id, CAST(sum(l.lmw) AS BIGINT) AS msum, CAST(count(*) AS BIGINT) AS mcnt FROM lmtri0 x JOIN lmp l ON l.lmtri = x.lmtri GROUP BY 1), " +
      s"lmmw AS (SELECT nw.doc_id, CAST(coalesce(h.msum, 0) + (nw.n_win - coalesce(h.mcnt, 0)) * ${graft.llm.LmScore.UnseenCost} AS BIGINT) AS nll, " +
      s"CAST(CASE WHEN nw.n_win > 0 THEN (coalesce(h.msum, 0) + (nw.n_win - coalesce(h.mcnt, 0)) * ${graft.llm.LmScore.UnseenCost}) // nw.n_win ELSE 0 END AS BIGINT) AS lm_mw " +
      "FROM nw LEFT JOIN lmhit h ON h.doc_id = nw.doc_id)"

  /** Winnowing parameters (k-gram length, window width): a shared substring
    * of ≥ k+w−1 = 19 characters (≈ 4 tokens) is guaranteed a common
    * fingerprint. Shared verbatim with the oracle restatement. */
  private val WinnowK = 12
  private val WinnowW = 8

  /** Fuzzy-decontamination k-gram length — LONGER than the dedup pass's
    * [[WinnowK]] on purpose: a contamination gate wants phrase-length
    * specificity (≈ a 5-word shingle, matching the exact pass's n=5),
    * measured on this corpus to separate plants (min 5 hits at sf0.1)
    * from incidental shared-phrase overlap (3 docs ≥ 4 hits at sf0.01,
    * all genuine ≥24-char shared runs). */
  private val FuzzyK = 24

  /** Single-line unrolled restatement of the rolling k-gram hash — the
    * left fold h = (h·B + ord(char)) mod P that WinnowFingerprintExpr
    * computes rollingly. Single-line on purpose: interpolating multi-line
    * fragments into a stripMargin oracle re-strips inner lines. */
  private def winnowGramHashSql(k: Int): String =
    (1 until k).foldLeft("CAST(ord(substr(nt, p + 0, 1)) AS BIGINT)") {
      (acc, j) =>
        s"(($acc)*${graft.functions.WinnowFingerprintExpr.B} + " +
          s"ord(substr(nt, p + $j, 1))) % ${graft.functions.WinnowFingerprintExpr.P}"
    }

  /** Oracle CTE chain `norm → grams → fps` computing per-doc winnowing
    * fingerprint lists from a docs relation named `src(doc_id, text)`.
    * `pfx` renames the chain (`bnorm/bgrams/bfps`) so two sources can
    * coexist in one oracle (q_decontam_fuzzy's corpus + benchmark). */
  private def winnowFpsCtes(src: String, pfx: String = "",
      k: Int = WinnowK): String =
    s"${pfx}norm AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt FROM $src), " +
      s"${pfx}grams AS (SELECT doc_id, list_transform(generate_series(1, length(nt) - ${k - 1}), p -> ${winnowGramHashSql(k)}) AS g FROM ${pfx}norm WHERE length(nt) >= $k), " +
      s"${pfx}fps AS (SELECT doc_id, list_sort(list_distinct(list_transform(generate_series(1, greatest(len(g) - ${WinnowW - 1}, 1)), p -> list_aggregate(list_slice(g, p, p + ${WinnowW - 1}), 'min')))) AS fp FROM ${pfx}grams)"

  /** Shared PQ oracle CTEs (quantized corpus/codebook/probes, subspace
    * slices, per-(vector, subspace) codes, probe ADC table) — consumed by
    * q_ann_pq and q_ann_ivfpq. Restates Similarity.pqTopK's integer
    * arithmetic verbatim: floor(x·100), m=4 × dsub=16, argmin ties to the
    * lowest codeword id. */
  private val PqCtes: String =
    """WITH qc AS (SELECT vec_id AS nid,
      |              list_transform(CAST(embedding AS DOUBLE[]),
      |                x -> CAST(floor(x * 100) AS BIGINT)) AS qv
      |            FROM embeddings),
      |qb AS (SELECT vec_id AS cid,
      |         list_transform(CAST(embedding AS DOUBLE[]),
      |           x -> CAST(floor(x * 100) AS BIGINT)) AS qv
      |       FROM embeddings WHERE vec_id % 101 = 0 AND vec_id < 1616),
      |qp AS (SELECT vec_id AS pid,
      |         list_transform(CAST(embedding AS DOUBLE[]),
      |           x -> CAST(floor(x * 100) AS BIGINT)) AS qv
      |       FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 5000),
      |csub AS (SELECT cid, g.j, list_slice(qv, g.j*16+1, g.j*16+16) AS sv
      |         FROM qb CROSS JOIN generate_series(0, 3) AS g(j)),
      |nsub AS (SELECT nid, g.j, list_slice(qv, g.j*16+1, g.j*16+16) AS sv
      |         FROM qc CROSS JOIN generate_series(0, 3) AS g(j)),
      |psub AS (SELECT pid, g.j, list_slice(qv, g.j*16+1, g.j*16+16) AS sv
      |         FROM qp CROSS JOIN generate_series(0, 3) AS g(j)),
      |encd AS (SELECT n.nid, n.j, c.cid,
      |           CAST(list_sum(list_transform(generate_series(1, 16),
      |             t -> (n.sv[t] - c.sv[t]) * (n.sv[t] - c.sv[t]))) AS BIGINT) AS qd
      |         FROM nsub n JOIN csub c ON n.j = c.j),
      |codes AS (SELECT nid, j, cid AS code FROM (
      |            SELECT nid, j, cid,
      |                   row_number() OVER (PARTITION BY nid, j
      |                                      ORDER BY qd, cid) AS rk
      |            FROM encd) WHERE rk = 1),
      |dt AS (SELECT p.pid, p.j, c.cid,
      |         CAST(list_sum(list_transform(generate_series(1, 16),
      |           t -> (p.sv[t] - c.sv[t]) * (p.sv[t] - c.sv[t]))) AS BIGINT) AS pd
      |       FROM psub p JOIN csub c ON p.j = c.j)""".stripMargin

  /** Shared CTE prelude for the q_decontam_fuzzy oracles: the edited-plant
    * corpus `c2`, the benchmark prefix slice `bsrc`, both winnow chains
    * ([[winnowFpsCtes]] — corpus unprefixed, benchmark `b`-prefixed), the
    * distinct benchmark fingerprint set, and per-doc hit counts `fhits`. */
  private lazy val FuzzyContamCtes: String =
    """WITH c2 AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 700000 AS doc_id,
      |         upper(substring(text, 1, 60) || ',' || substring(text, 61, 60)) AS text
      |  FROM documents WHERE doc_id % 17 = 3),
      |bsrc AS (SELECT doc_id, substring(text, 1, 120) AS text
      |         FROM documents WHERE doc_id % 17 = 3),
      |""".stripMargin +
      s"${winnowFpsCtes("c2", k = FuzzyK)}, ${winnowFpsCtes("bsrc", "b", k = FuzzyK)}, " +
      """bset AS (SELECT DISTINCT unnest(fp) AS f FROM bfps),
        |fhits AS (SELECT doc_id, count(*) AS hits
        |          FROM (SELECT doc_id, unnest(fp) AS f FROM fps) cf
        |          JOIN bset USING (f) GROUP BY 1)
        |""".stripMargin

  /** Continues [[winnowFpsCtes]] with the inverted index, df cut (cap 64),
    * post-cut sizes, and the resemblance-scored pair set `wp` — the oracle
    * restatement of [[Dedup.winnowPairs]] shared by q_dedup_winnow and
    * q_dedup_winnow_apply. Single-line fragments (stripMargin safety). */
  private val WinnowPairCtes: String =
    "inv AS (SELECT doc_id, unnest(fp) AS f FROM fps), " +
      "kept AS (SELECT f FROM inv GROUP BY f HAVING count(*) <= 64), " +
      "kinv AS (SELECT doc_id, f FROM inv WHERE f IN (SELECT f FROM kept)), " +
      "sizes AS (SELECT doc_id, count(*) AS nf FROM kinv GROUP BY doc_id), " +
      "shp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared FROM kinv a JOIN kinv b ON a.f = b.f AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "wp AS (SELECT id_a, id_b, shared, CAST(shared AS DOUBLE) / (sa.nf + sb.nf - shared) AS resem FROM shp JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b WHERE CAST(shared AS DOUBLE) / (sa.nf + sb.nf - shared) >= 0.5)"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: survivors per normalized-text fingerprint. fp (xxhash64)
    // is dropped from the output so DuckDB can restate the grouping on the
    // normalized text itself (equivalent while the hash is injective here).
    "q_dedup_exact" -> ((s, d) => {
      Dedup.exactSurvivors(docsExactDups(s, d), col("doc_id"), col("text"))
        .select(col("doc_id"), col("dup_cnt"))
    }),

    // Exact n-gram Jaccard pairs (the LSH-free baseline) — fully
    // oracle-expressible with DuckDB list functions.
    "q_dedup_jaccard" -> ((s, d) => {
      Dedup.jaccardPairs(docsNearDups(s, d), col("doc_id"), col("text"),
          n = 3, threshold = 0.6)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }),

    // MinHash+LSH candidates: k=64 sigs, 16 bands × 4 rows, est-Jaccard ≥ 0.5.
    // xxhash64-dependent → rows-only check here; recall vs the exact pairs is
    // asserted in LlmSpec.
    "q_dedup_minhash" -> ((s, d) => {
      Dedup.minHashCandidates(docsNearDups(s, d), col("doc_id"), col("text"),
          shingleN = 3, k = 64, bands = 16, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 6).as("est_jaccard"))
    }),

    // SimHash pairs at hamming ≤ 3 via 16-bit-chunk banding (rows-only).
    "q_dedup_simhash" -> ((s, d) => {
      Dedup.simHashPairs(docsNearDups(s, d), col("doc_id"), col("text"), maxDist = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
    }),

    // Deterministic MinHash twin: md5-packed shingle values, integer
    // universal-hash signature mins, signature-row band keys — the full
    // signature/banding/est-Jaccard plumbing under arithmetic DuckDB
    // restates verbatim → full hash-match oracle row (the xxhash64 variant
    // above stays the production path with its rows-only check + LlmSpec pin).
    "q_dedup_minhash_det" -> ((s, d) => {
      Dedup.minHashDetCandidates(docsNearDups(s, d), col("doc_id"), col("text"),
          shingleN = 3, k = 64, bands = 16, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 6).as("est_jaccard"))
    }),

    // Deterministic-projection SimHash twin: md5-derived 60-bit fingerprint,
    // integer voting, 15-bit-chunk banding — the full voting/banding plumbing
    // under a projection DuckDB restates verbatim, so this one gets a full
    // hash-match oracle row (the xxhash64 variant above stays the fast
    // production path with its rows-only check + LlmSpec pin).
    "q_dedup_simhash_det" -> ((s, d) => {
      Dedup.simHashDetPairs(docsNearDups(s, d), col("doc_id"), col("text"), maxDist = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
    }),

    // Dedup cluster resolution: connected components over the exact Jaccard
    // pairs, every member labeled with its cluster's min id (the survivor).
    // Deterministic min-label propagation → fully oracle-checkable via a
    // DuckDB recursive-CTE reachability closure.
    "q_dedup_clusters" -> ((s, d) => {
      val pairs = Dedup.jaccardPairs(docsNearDups(s, d), col("doc_id"),
        col("text"), n = 3, threshold = 0.6)
      Dedup.components(pairs, col("id_a"), col("id_b"))
    }),

    // End-to-end dedup application: corpus minus non-survivors (cluster
    // members that are not their cluster's min id). Un-hinted anti-join on
    // the id key — AQE broadcasts the loser set when it is actually small
    // and shuffles when a dup-heavy corpus makes it large.
    "q_dedup_apply" -> ((s, d) => {
      val docs = docsNearDups(s, d)
      val pairs = Dedup.jaccardPairs(docs, col("doc_id"), col("text"),
        n = 3, threshold = 0.6)
      Dedup.dropNearDups(docs, col("doc_id"),
          Dedup.components(pairs, col("id_a"), col("id_b")))
        .select(col("doc_id"))
    }),

    // PRODUCTION cluster resolution (r15 verdict #1): connected components
    // over the CAPPED MinHash-LSH candidate pairs instead of the exact
    // shingle self-join. The exact-Jaccard chain above is the verify twin
    // (correct, but its uncapped inverted-index join fans out quadratically
    // on a hot shingle — 21-27x growth at 10x data); banding bounds every
    // bucket's pair fan-out, and the auto-armed salt guard bounds any
    // degenerate bucket's task, so THIS is the chain a 100 TB corpus runs.
    // xxhash64 signatures → rows-only driver check; the det twin below
    // carries the full-oracle hash match, and LlmSpec pins that every
    // exact-chain loser is also dropped here.
    "q_dedup_clusters_lsh" -> ((s, d) => {
      val pairs = Dedup.minHashCandidates(docsNearDups(s, d), col("doc_id"),
        col("text"), shingleN = 3, k = 64, bands = 16, threshold = 0.5)
      Dedup.components(pairs, col("id_a"), col("id_b"))
    }),

    // End-to-end production dedup at scale: corpus minus the LSH chain's
    // non-survivors. Same un-hinted AQE-sized anti-join as q_dedup_apply.
    "q_dedup_apply_lsh" -> ((s, d) => {
      val docs = docsNearDups(s, d)
      val pairs = Dedup.minHashCandidates(docs, col("doc_id"), col("text"),
        shingleN = 3, k = 64, bands = 16, threshold = 0.5)
      Dedup.dropNearDups(docs, col("doc_id"),
          Dedup.components(pairs, col("id_a"), col("id_b")))
        .select(col("doc_id"))
    }),

    // Full-oracle det twins of the LSH cluster/apply chain: components over
    // the md5/integer det-MinHash pair graph — DuckDB restates signatures,
    // banding, est-Jaccard, and the recursive reachability closure verbatim,
    // so the WHOLE production shape (banded candidates → components →
    // anti-join) carries a hash-matched row (the q_quality_cut doctrine).
    "q_dedup_clusters_lsh_det" -> ((s, d) => {
      val pairs = Dedup.minHashDetCandidates(docsNearDups(s, d), col("doc_id"),
        col("text"), shingleN = 3, k = 64, bands = 16, threshold = 0.5)
      Dedup.components(pairs, col("id_a"), col("id_b"))
    }),
    "q_dedup_apply_lsh_det" -> ((s, d) => {
      val docs = docsNearDups(s, d)
      val pairs = Dedup.minHashDetCandidates(docs, col("doc_id"), col("text"),
        shingleN = 3, k = 64, bands = 16, threshold = 0.5)
      Dedup.dropNearDups(docs, col("doc_id"),
          Dedup.components(pairs, col("id_a"), col("id_b")))
        .select(col("doc_id"))
    }),

    // Benchmark decontamination: the eval-leakage pass. The "benchmark" is a
    // deterministic stride of the corpus projected to a 120-char prefix —
    // partial containment, the case a verbatim-match pass misses. 5-gram
    // overlap >= 2 flags a doc; the clean twin is the anti-joined corpus a
    // training run consumes. Hashed shingles join against the broadcast
    // benchmark set; the string-shingled DuckDB restatement is exact under
    // the same injective-hash argument as q_dedup_jaccard.
    "q_decontam" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Decontamination.contaminationHits(docs, col("doc_id"), col("text"),
          docs.filter(col("doc_id") % 17 === 3), substring(col("text"), 1, 120),
          n = 5, minHits = 2)
    }),
    "q_decontam_apply" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Decontamination.clean(docs, col("doc_id"), col("text"),
          docs.filter(col("doc_id") % 17 === 3), substring(col("text"), 1, 120),
          n = 5, minHits = 2)
        .agg(count(lit(1)).as("n_clean"), sum(col("n_chars")).as("sum_chars"))
    }),

    // FUZZY decontamination (r19 verdict #3): winnowing-fingerprint
    // overlap against the broadcast benchmark set catches EDITED leakage.
    // The corpus carries a case-folded comma-spliced copy of every
    // benchmark prefix (+700000) that shares ZERO word-5-grams with the
    // benchmark — exact q_decontam provably misses it (differential
    // pinned in DecontaminationSpec) — yet shares the winnow fingerprints
    // of all its unedited ≥31-char runs (k+w−1 for FuzzyK=24, WinnowW=8 —
    // r20 ADVICE: 19 was the stale WinnowK=12 figure). Engine-portable
    // integer fingerprints → FULL oracle, both forms.
    "q_decontam_fuzzy" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Decontamination.fuzzyHits(docsFuzzyContam(s, d), col("doc_id"),
          col("text"),
          docs.filter(col("doc_id") % 17 === 3), substring(col("text"), 1, 120),
          k = FuzzyK, w = WinnowW, minHits = 4)
    }),
    "q_decontam_fuzzy_apply" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Decontamination.fuzzyClean(docsFuzzyContam(s, d), col("doc_id"),
          col("text"),
          docs.filter(col("doc_id") % 17 === 3), substring(col("text"), 1, 120),
          k = FuzzyK, w = WinnowW, minHits = 4)
        .agg(count(lit(1)).as("n_clean"),
          sum(length(col("text"))).cast("long").as("sum_chars"))
    }),

    // PII redaction over a deterministically planted stride (the synthetic
    // corpus carries no PII): every 13th doc gains an id-bearing email, an
    // IPv4, and a phone; the scrub must collapse each to its placeholder.
    // The pattern strings are the RE2-compatible subset, shared VERBATIM
    // with the DuckDB oracle — same regex, two engines, equal output.
    "q_redact_pii" -> ((s, d) => {
      Tables.documents(s, d)
        .filter(col("doc_id") % 13 === 0)
        .select(col("doc_id"),
          concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com or 10.0.0.7 or call +1 555 0100 now"))
            .as("text"))
        .select(col("doc_id"),
          TextAnalysis.redactPii(col("text")).as("redacted"))
    }),

    // Text analysis battery: every stat is closed-form arithmetic the oracle
    // restates exactly; runs at scan speed (no shuffle, no UDF). Tokenizes
    // ONCE via the staged projection (r3 verdict: the per-stat re-split cost
    // ~12 evaluations of split() per row).
    "q_text_stats" -> ((s, d) => {
      TextAnalysis.withStats(Tables.documents(s, d), col("text"), Stopwords)
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          round(col("avg_tok_len"), 6).as("avg_tok_len"),
          col("stop_cnt"), round(col("quality"), 6).as("quality"),
          col("en_like"), col("subwords"))
    }),

    // Deterministic train/val/test split: named consecutive scramble-key
    // ranges — zero shuffle, growth-stable (a doc's split never changes
    // when others arrive), and 'train' IS bernoulli(0.8)'s keep set.
    "q_split" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.llm.Sampling.splitLabel(col("doc_id"),
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
    }),

    // Repetition-ratio quality signal (Gopher-style): max token
    // multiplicity per doc via the native one-pass counter — a doc whose
    // top token dominates its length is boilerplate whatever its other
    // stats say. Scan-speed projection, fully oracle-checked.
    "q_text_repetition" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextAnalysis.maxTokenFreq(TextAnalysis.tokens(col("text")))
            .cast("long").as("max_freq"),
          size(TextAnalysis.tokens(col("text"))).as("n_tok"))
        .select(col("doc_id"), col("max_freq"),
          round(col("max_freq").cast("double") / col("n_tok"), 6).as("rep_ratio"))
    }),

    // Deterministic Bernoulli subsample: scramble-key threshold keep — the
    // zero-shuffle ~10% corpus cut (exact-quota sampling is q_sample_*).
    // Same engine-portable integer arithmetic, so the SAME rows survive in
    // the oracle.
    "q_sample_bernoulli" -> ((s, d) => {
      Tables.documents(s, d)
        .filter(graft.llm.Sampling.bernoulli(col("doc_id"), 0.1))
        .select(col("doc_id"), col("source"))
    }),

    // Corpus summary: the "how big / how clean is my training set" roll-up
    // every pipeline runs — per predicted language: docs, token and
    // subword mass, mean quality (boundary-stable rounding). One
    // map-side-combined aggregation over scan-speed projections.
    "q_corpus_stats" -> ((s, d) => {
      // stamping AND roll-up are DocumentsApp's own stampStats/corpusStats
      // — the SAME code the streaming ingest dashboard runs (streaming ≡
      // batch pinned by StreamingCorpusStatsSpec), not a re-statement of
      // it: this oracle row therefore pins the shared implementation, and
      // a margin-threshold or stamping tweak can never diverge the benched
      // batch query from the live dashboard silently.
      graft.DocumentsApp.corpusStats(
          graft.DocumentsApp.stampStats(Tables.documents(s, d)))
    }),

    // Quantile-based quality curation: the "keep the top quartile" pass —
    // derive the P75 quality threshold, then count/stat the surviving
    // docs. The threshold rides as a broadcast scalar (no shuffle of the
    // corpus beyond the two narrow aggregations). PRODUCTION path uses
    // approx_percentile: its GK sketch bounds aggregator memory at the
    // accuracy parameter regardless of corpus size, where exact
    // percentile's value buffer holds the whole column in one aggregator —
    // the r12 verdict's last scale-killer. The exact form survives as the
    // full-oracle twin q_quality_cut_det (the MinHash/SimHash/k-means
    // production-vs-det split); sketch-vs-exact agreement is pinned by a
    // ±5% tolerance property in LlmQueriesSpec (reference three-way gate:
    // test/validate_percentiles.go:341-385), and PlanAuditSpec asserts the
    // benched plan carries no exact-Percentile aggregate.
    "q_quality_cut" -> ((s, d) =>
      qualityCut(s, d, expr("approx_percentile(quality, 0.75D, 10000)"))),

    // Full-oracle twin: exact linear-interpolation P75 (both engines'
    // continuous-quantile definition) through the SAME downstream plan.
    "q_quality_cut_det" -> ((s, d) =>
      qualityCut(s, d, expr("percentile(quality, 0.75D)"))),

    // Per-language quantile cut: one P75 per lang group — the curation
    // pass a multilingual corpus needs (quality scores are not comparable
    // across languages; see qualityCutByLang). Same production-vs-det
    // split as the global cut: grouped approx_percentile (GK sketch per
    // group, memory bounded at any corpus size) is the benched path,
    // rows-only; the exact grouped percentile is the full-oracle twin.
    "q_quality_cut_by_lang" -> ((s, d) =>
      qualityCutByLang(s, d, expr("approx_percentile(quality, 0.75D, 10000)"))),

    "q_quality_cut_by_lang_det" -> ((s, d) =>
      qualityCutByLang(s, d, expr("percentile(quality, 0.75D)"))),

    // Per-language perplexity cut (CCNet): keep the under-median-nll_mw
    // half per lang. Sketch threshold benches (rows-only); exact twin below.
    "q_lm_cut_by_lang" -> ((s, d) =>
      lmCutByLang(s, d, expr("approx_percentile(nll_mw, 0.5D, 10000)"))),

    "q_lm_cut_by_lang_det" -> ((s, d) =>
      lmCutByLang(s, d, expr("percentile(nll_mw, 0.5D)"))),

    // Winnowing fingerprint profile (Schleimer et al., SIGMOD'03): per-doc
    // distinct window-min rolling-hash set — the substring-level document
    // signature. Engine-portable integer hash, so unlike MinHash/SimHash
    // this fingerprint family is FULL-oracle with no det twin. Native
    // one-pass expression (rolling hash + monotonic-deque window min).
    "q_fp_winnow" -> ((s, d) => {
      // short-doc filter on the normalized LENGTH (fp non-empty ⟺ length
      // ≥ k): filtering on size(fp) would push the whole winnow derivation
      // into the scan filter and evaluate it twice per row
      Tables.documents(s, d)
        .filter(length(TextAnalysis.normalize(col("text"))) >= WinnowK)
        .select(col("doc_id"),
          Dedup.winnowFingerprints(TextAnalysis.normalize(col("text")),
            WinnowK, WinnowW).as("fp"))
        .select(col("doc_id"), size(col("fp")).cast("long").as("n_fp"),
          element_at(col("fp"), 1).as("fp_min"),
          element_at(col("fp"), -1).as("fp_max"),
          aggregate(col("fp"), lit(0L), (a, x) => a + x).as("fp_sum"))
    }),

    // Winnowing near-dup pairs: inverted-index join on shared fingerprints
    // with an ABSOLUTE document-frequency cap (a fingerprint in > dfCap
    // docs is the substring analog of a stopword — and a fractional cap
    // would grow quadratic pair fan-out with the corpus), scored by set
    // resemblance over the df-capped fingerprint sets. Catches copy/paste
    // spans ≥ k+w−1 chars that whole-doc shingle Jaccard dilutes.
    "q_dedup_winnow" -> ((s, d) => {
      Dedup.winnowPairs(docsNearDups(s, d), col("doc_id"), col("text"),
          k = WinnowK, w = WinnowW, dfCap = 64, threshold = 0.5)
        .select(col("id_a"), col("id_b"), col("shared"),
          round(col("resemblance"), 6).as("resemblance"))
    }),

    // End-to-end winnow dedup: connected components over the winnow pair
    // graph, corpus minus non-min cluster members — the substring-level
    // twin of q_dedup_apply, same un-hinted AQE-sized anti-join.
    "q_dedup_winnow_apply" -> ((s, d) => {
      val docs = docsNearDups(s, d)
      val pairs = Dedup.winnowPairs(docs, col("doc_id"), col("text"),
        k = WinnowK, w = WinnowW, dfCap = 64, threshold = 0.5)
      Dedup.dropNearDups(docs, col("doc_id"),
          Dedup.components(pairs, col("id_a"), col("id_b")))
        .select(col("doc_id"))
    }),

    // Temperature-scaled mixture weights (the Llama/PaLM data-mixing
    // recipe at α = 0.5): per-source sampling weight n^α, flattening the
    // head sources so the tail survives. The α = 0.5 power is integer
    // square root — floor(sqrt(n)) is engine-exact (IEEE sqrt is correctly
    // rounded, and for n < 2^40 the true root sits further than half an
    // ulp from the next integer) — so weights, the ppm share, and the
    // 1000-doc quota are all closed integer arithmetic. One map-side-
    // combined count; everything after runs on the |sources|-row relation.
    "q_mix_temperature" -> ((s, d) => {
      val counts = Tables.documents(s, d).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
      val w = counts.select(col("source"), col("n_docs"),
        floor(sqrt(col("n_docs").cast("double"))).cast("long").as("w"))
      val tot = w.agg(sum(col("w")).as("tw"))
      w.join(broadcast(tot))
        .select(col("source"), col("n_docs"), col("w"),
          call_function("div", col("w") * 1000000L, col("tw")).as("p_ppm"),
          call_function("div", col("w") * 1000L, col("tw")).as("quota_1k"))
    }),

    // Per-source corpus report — the "which sources are garbage" dashboard
    // a mixture decision reads: volume, exact-dup rate (1 − distinct
    // fingerprints / docs, here as the dup COUNT), mean heuristic quality,
    // mean LM perplexity. One scan, one keyed aggregation; count(distinct)
    // is the standard two-phase exact form.
    "q_source_report" -> ((s, d) => {
      val p = graft.llm.LangId.padded(col("text"))
      TextAnalysis.withStats(Tables.documents(s, d), col("text"), Stopwords)
        .select(col("source"), col("quality"),
          TextAnalysis.fingerprint(col("text")).as("fp"),
          graft.llm.LmScore.nllPerWindow(graft.llm.LmScore.nll(p),
            graft.llm.LangId.nWindows(p)).as("nll_mw"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          (count(lit(1)) - countDistinct(col("fp"))).as("n_dups"),
          OracleDefs.stableAvg4(avg(col("quality"))).as("avg_quality"),
          OracleDefs.stableAvg4(avg(col("nll_mw"))).as("avg_lm_mw"))
    }),

    // Paragraph-level exact dedup (the structural pass document-level dedup
    // cannot express): explode → first-occurrence winner per normalized
    // paragraph → per-doc reassembly. Fixture: the paragraphed corpus with
    // planted quoting docs — the quoted first paragraph must be stripped
    // (the base doc owns the earlier occurrence) and the shared footer must
    // collapse to its first quoting doc, while base paragraphs pass through.
    "q_dedup_paragraph" -> ((s, d) => {
      Dedup.paragraphSurvivors(docsParagraphs(s, d), col("doc_id"), col("text"))
    }),

    // Gopher repetition battery (Rae et al. 2021): duplicate-line fraction,
    // duplicate-line CHARACTER fraction, and top-2-gram coverage — the
    // signals that catch boilerplate/spam whole-document dedup misses.
    // Everything is a per-row HOF projection (the top-gram is a sorted
    // fold, not a (doc, gram) shuffle) — scan speed at any corpus size.
    // Fixture: the paragraphed corpus plus planted spam docs (one
    // paragraph repeated 3×) that must light up all three signals.
    "q_gopher_repetition" -> ((s, d) => {
      val ls = TextAnalysis.docLines(col("text"))
      val tb = TextAnalysis.topBigram(TextAnalysis.flatTokens(col("text")))
      docsSpam(s, d)
        .select(col("doc_id"), col("text"), ls.as("ls"), tb.as("tb"))
        .select(col("doc_id"),
          size(col("ls")).cast("long").as("n_lines"),
          round(TextAnalysis.dupLineFrac(col("ls")), 6).as("dup_line_frac"),
          round(TextAnalysis.dupLineCharFrac(col("ls")), 6).as("dup_char_frac"),
          col("tb.cnt").as("top2_cnt"),
          col("tb.gram").as("top2_gram"),
          round(col("tb.cnt") * length(col("tb.gram")) / length(col("text")), 6)
            .as("top2_frac"))
    }),

    // Gopher quality-rule battery (Rae et al. 2021 §A1.1): word count,
    // mean word length, symbol ratio, bullet/ellipsis line fractions,
    // alpha-word fraction, stopword hits, and the composite pass flag —
    // the canonical pre-training heuristic filter. Zero-shuffle per-row
    // projections; the fixture plants one mutant family per line rule.
    "q_gopher_rules" -> ((s, d) => {
      TextAnalysis.withGopherSignals(docsGopherFix(s, d), col("text"))
        .select(col("doc_id"), col("n_words"),
          round(col("mean_word_len"), 6).as("mean_word_len"),
          round(col("symbol_ratio"), 6).as("symbol_ratio"),
          round(col("bullet_frac"), 6).as("bullet_frac"),
          round(col("ellipsis_frac"), 6).as("ellipsis_frac"),
          round(col("alpha_frac"), 6).as("alpha_frac"),
          col("stop_hits"), col("gopher_pass"))
    }),

    // Gopher rules keyed by language (r16 verdict #7): stopword list,
    // letter class, stopword floor, and word-length bounds all selected
    // by the lang stamp — the de/ru plants pass their OWN batteries and
    // would fail the English one. Full oracle: every per-lang arm is a
    // literal-seeded CASE both engines restate.
    "q_gopher_rules_by_lang" -> ((s, d) => {
      TextAnalysis.withGopherSignalsByLang(docsLangFix(s, d), col("text"),
          col("lang"))
        .select(col("doc_id"), col("lang"), col("n_words"),
          round(col("mean_word_len"), 6).as("mean_word_len"),
          round(col("symbol_ratio"), 6).as("symbol_ratio"),
          round(col("alpha_frac"), 6).as("alpha_frac"),
          col("stop_hits"), col("gopher_pass"))
    }),

    // C4 line-level cleaning (Raffel et al. 2020 §2.2): keep lines that end
    // in terminal punctuation, carry ≥5 words, and don't mention
    // javascript; keep docs with ≥3 surviving lines and no lorem-ipsum /
    // code-brace markers. One filter HOF per row — the line rules never
    // explode the corpus.
    "q_c4_clean" -> ((s, d) => {
      val ls = TextAnalysis.docLines(col("text"))
      docsC4Fix(s, d)
        .select(col("doc_id"), col("text"), ls.as("ls"),
          TextAnalysis.c4KeptLines(ls).as("kept"))
        .select(col("doc_id"),
          size(col("ls")).cast("long").as("n_lines"),
          size(col("kept")).cast("long").as("n_kept"),
          length(concat_ws("\n", col("kept"))).cast("long").as("clean_chars"),
          TextAnalysis.c4DocKeep(col("text"), size(col("kept"))).as("doc_kept"))
    }),

    // Incremental (cross-snapshot) dedup: tonight's crawl batch vs the
    // already-ingested snapshot. Batch = every even doc re-crawled
    // (id+400000) plus a re-duplicated %6 stride (id+500000); within-batch
    // dedup collapses those first (batch_dups counts them), then the
    // fingerprint anti-join drops texts the snapshot (every 5th doc)
    // already holds.
    "q_dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val batch = docs.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 400000L).as("doc_id"), col("text"))
        .unionAll(docs.filter(col("doc_id") % 6 === 0)
          .select((col("doc_id") + 500000L).as("doc_id"), col("text")))
      val seen = docs.filter(col("doc_id") % 5 === 0)
      Dedup.incrementalNew(batch, seen, col("doc_id"), col("text"))
    }),

    // Corpus vocabulary profile: global token frequency + document
    // frequency, top 25 by count (ties broken on the token) — the "what is
    // this corpus made of" first look and the input a derived stopword list
    // would come from. One explode, one map-side-combined aggregation; df's
    // count(distinct doc_id) shuffles (token, doc_id) pairs, bounded by the
    // corpus token count.
    "q_vocab_topk" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("df"))
        .orderBy(col("n").desc, col("token"))
        .limit(25)
    }),

    // Deterministic global training-order shuffle: shard + exact 1-based
    // position per doc from the shared scramble-key permutation — the
    // "shuffle once, write N shards" pass of epoch-0 training. Rank via
    // the mixture bucketed decomposition (no whole-shard window; pinned by
    // SamplingSpec's plan audit), restated in the oracle as a plain
    // per-shard row_number over the same integer key.
    "q_shard_shuffle" -> ((s, d) => {
      graft.llm.Sampling.shardShuffle(
          Tables.documents(s, d).select(col("doc_id")), col("doc_id"),
          nShards = 8)
    }),

    // Real language ID: char-trigram Naive Bayes (LangId) — integer scores
    // from build-time-scaled log weights, so the oracle restates the exact
    // sum from the same literal profile. The corpus is synthetic English, so
    // the prediction column alone would be constant; surfacing best/en
    // scores pins the arithmetic per document, and LangIdSpec pins the
    // multilingual behavior on fixtures.
    "q_langid" -> ((s, d) => {
      val sc = graft.llm.LangId.scores(graft.llm.LangId.padded(col("text")))
      Tables.documents(s, d)
        .select(col("doc_id"), sc.as("sc"))
        .select(col("doc_id"),
          graft.llm.LangId.predict(col("sc")).as("lang_pred"),
          array_max(col("sc")).as("best_score"),
          element_at(col("sc"),
            graft.llm.LangId.Langs.indexOf("en") + 1).as("en_score"),
          // confidence: best − second-best (integer, oracle-restated) — the
          // r12-missing signal that lets downstream bin low-margin docs
          graft.llm.LangId.margin(col("sc")).as("margin"))
    }),

    // Perplexity quality score (the CCNet/KenLM filter): integer NLL under
    // a conditional char-trigram LM built from the en seed at BUILD time —
    // fluent English pays low per-window cost; word salad and non-English
    // text saturate toward the unseen floor. One native scan-speed pass;
    // the length-normalized nll_mw (milli-nats/window) is the curation
    // signal a quantile cut consumes.
    "q_lm_perplexity" -> ((s, d) => {
      val p = graft.llm.LangId.padded(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), graft.llm.LmScore.nll(p).as("nll"),
          graft.llm.LangId.nWindows(p).as("n_win"))
        .select(col("doc_id"), col("nll"), col("n_win"),
          graft.llm.LmScore.nllPerWindow(col("nll"), col("n_win")).as("nll_mw"))
    }),

    // Sequence packing: greedy next-fit token-budget packs per shard (the
    // sequential fold runs per shard via flatMapGroups; shards in parallel).
    // Fully oracle-checked — DuckDB restates the fold as a linear recursion.
    // Shard count scales with the corpus (8 here for the fixture; a 100 TB
    // run picks enough shards that one shard fits one task).
    "q_pack_nextfit" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), size(TextAnalysis.tokens(col("text"))).as("n_tok"))
      graft.llm.Packing.packNextFit(docs, col("doc_id"),
          pmod(col("doc_id"), lit(8)), col("doc_id"), col("n_tok"),
          maxTokens = 512L)
    }),

    // BPE merge TRAINING (Sennrich et al. 2016): the first 4 merges
    // learned from the corpus's own word-frequency table — the learn side
    // of q_pack_bpe's pinned-vocab apply. Distinct-word working set, one
    // pair-count groupBy per round, single-row argmax for loop control;
    // the oracle replays the identical unrolled rounds (same tie order,
    // same non-overlapping replace semantics).
    "q_bpe_train" -> ((s, d) => {
      graft.llm.Bpe.trainMerges(Tables.documents(s, d), col("text"),
          rounds = BpeTrainRounds)
    }),

    // BATCHED BPE training at a real vocabulary scale (r18 verdict #6):
    // BpeBatchRounds driver rounds × up to BpeBatchK merges each — a
    // rounds·batch merge budget from `rounds` corpus aggregations instead
    // of one job PER merge (trainMerges' wall at production vocab sizes).
    // Selection is the deterministic
    // top-ranked pairwise-disjoint rule (Bpe.trainMergesBatched scaladoc),
    // which the oracle restates per round WITHOUT recursion: ranked
    // candidates LIMIT 4·batch, a NOT EXISTS disjointness filter against
    // higher-ranked candidates, positions ≤ batch, then per-slot
    // NULL-guarded wrapped replaces.
    "q_bpe_train_batched" -> ((s, d) => {
      graft.llm.Bpe.trainMergesBatched(Tables.documents(s, d), col("text"),
          rounds = BpeBatchRounds, batch = BpeBatchK)
    }),

    // Bounded deterministic training SAMPLE (the other half of r18
    // verdict #6): production tokenizers train on a fixed-size sample, so
    // corpus growth grows neither the per-round aggregation nor the
    // driver loop. The stride ∩ id-bound sample (≤ 4096 docs FOREVER, not
    // a corpus fraction — a fraction re-opens the growth door) is
    // deterministic, so the oracle trains on the identical subset.
    "q_bpe_train_sampled" -> ((s, d) => {
      graft.llm.Bpe.trainMergesBatched(
          Tables.documents(s, d)
            .filter(col("doc_id") % 7 === 0 && col("doc_id") < 7 * 4096),
          col("text"), rounds = BpeBatchRounds, batch = BpeBatchK)
    }),

    // Train→tokenize loop closure: the 4 learned merges re-segment every
    // document (per-doc learned-subword counts) — the fit is the
    // driver-side single-row collects above, the apply is one scan-speed
    // projection with the merge literals baked in.
    "q_bpe_train_apply" -> ((s, d) => {
      val merges = graft.llm.Bpe.trainMerges(Tables.documents(s, d),
          col("text"), BpeTrainRounds)
        .orderBy(col("merge_rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      Tables.documents(s, d)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__tk"))
        .select(col("doc_id"),
          size(col("__tk")).cast("long").as("n_tok"),
          graft.llm.Bpe.learnedSubwordCount(col("__tk"), merges).as("n_sub"))
    }),

    // Tokenize-to-ids (r16 verdict #5 — the write-path last mile): the
    // corpus-trained merges replayed per token, surviving symbols mapped
    // to vocabulary ids (sorted base chars, then merge outputs by rank;
    // UNK = -1), one id SEQUENCE per document — the thing a trainer
    // actually consumes, exported per shard by DocumentsApp
    // .exportTokenShards. FULL oracle: vocab, merge walk, and id mapping
    // are all integer/string-deterministic in both engines. The sequence
    // is posexploded to one (doc_id, pos, id) row per id — order becomes
    // explicit checked data, and the output stays atomic-typed (the
    // driver's canonicalizer cannot hash array cells; r17 verdict #1).
    "q_tokenize_ids" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = graft.llm.Bpe.trainMerges(docs, col("text"), BpeTrainRounds)
        .orderBy(col("merge_rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val vocab = graft.llm.Bpe.idVocab(docs, col("text"), merges)
      docs
        .select(col("doc_id"),
          posexplode(graft.llm.Bpe.tokenizeIds(TextAnalysis.tokens(col("text")),
            merges, vocab)).as(Seq("pos", "id")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("id"))
    }),

    // Overlapping context-window chunking (size 32, overlap 8): the
    // "document longer than the context window" half of trainer prep that
    // packing's never-split contract leaves to the caller. One generator
    // explode + narrow projection — no shuffle; integer arithmetic both
    // engines. PackingSpec pins full coverage + stride reconstruction.
    "q_chunk_overlap" -> ((s, d) => {
      graft.llm.Packing.chunkTokens(Tables.documents(s, d),
          col("doc_id"), col("text"), size = 32, overlap = 8)
    }),

    // End-to-end C4-style cleaning: quality + language filter, THEN near-dup
    // cluster resolution over the survivors — the full
    // filter → pair → cluster → drop pipeline in one query. Every stage is
    // engine-portable arithmetic, so the whole composite is oracle-checked.
    "q_clean_pipeline" -> ((s, d) => {
      val stats = TextAnalysis.withStats(docsNearDups(s, d), col("text"), Stopwords)
      // kept feeds two DAG branches (pair generation + the survivor output);
      // persist it so the stats battery and filter run once, not per branch
      // (persist, not localCheckpoint: lazy and lineage-preserving — the
      // components loop's first action fills the cache). The cache is
      // released by the harness (CacheHygiene.releaseAll after each query
      // materializes — pinned by CacheHygieneSpec), so it cannot outlive
      // the query that created it.
      val kept = stats
        .filter(col("quality") >= 0.5 && col("en_like") === "en-like")
        .persist()
      // near-dup stage = the WINNOW chain (r18 close): the exact-Jaccard
      // chain this pipeline originally embedded is quadratic on a hot
      // shingle (the reason q_dedup_jaccard itself is verify-only), and
      // at 10x it owned the pipeline's 9× ratio breach; winnowPairs is
      // the production fingerprint pass — dfCap-bounded, ~2× at 10x —
      // and restates in the oracle verbatim (poly hash, not xxhash)
      val pairs = Dedup.winnowPairs(kept.select(col("doc_id"), col("text")),
        col("doc_id"), col("text"), k = WinnowK, w = WinnowW, dfCap = 64,
        threshold = 0.5)
      Dedup.dropNearDups(kept, col("doc_id"),
          Dedup.components(pairs, col("id_a"), col("id_b")))
        .select(col("doc_id"), round(col("quality"), 6).as("quality"))
    }),

    // The modern ingest-cleaning order as ONE fully-oracle-checked chain:
    // decontaminate (eval-leak anti-join) -> redact PII -> exact dedup on
    // the normalized redacted text (min-id survivor) -> length filter.
    // Complements q_clean_pipeline (quality + near-dup + components) with
    // the passes r11 added; every stage is also individually oracle-pinned.
    "q_clean_full" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val kept = Decontamination.clean(docs, col("doc_id"), col("text"),
        docs.filter(col("doc_id") % 17 === 3), substring(col("text"), 1, 120),
        n = 5, minHits = 2)
      kept
        .select(col("doc_id"),
          TextAnalysis.normalize(TextAnalysis.redactPii(col("text"))).as("ntext"))
        .groupBy(col("ntext"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_cnt"))
        .withColumn("n_tokens", size(split(col("ntext"), " ")).cast("long"))
        .filter(col("n_tokens") >= 10)
        .select(col("doc_id"), col("dup_cnt"), col("n_tokens"))
    }),

    // Mixture capping: at most k docs per domain by deterministic
    // scrambled-id order (engine-portable arithmetic — fully oracle-checked).
    "q_sample_capped" -> ((s, d) => {
      graft.llm.Sampling.topKPerGroup(
          Tables.documents(s, d)
            .select(pmod(col("doc_id"), lit(7)).as("domain"), col("doc_id")),
          col("domain"), col("doc_id"), k = 20)
    }),

    // Weighted mixture resample: three sources at 50/30/20% of a 40-doc
    // budget (caps 20/12/8), same engine-portable scramble order as the
    // capped sample; unlisted sources drop — the weights map is the mix.
    "q_sample_mixture" -> ((s, d) => {
      graft.llm.Sampling.mixture(
          Tables.documents(s, d).select(col("source"), col("doc_id")),
          col("source"), col("doc_id"),
          Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), total = 40)
    }),

    // Brute-force cosine top-k: a FIXED 50-probe workload (stride + cap —
    // a query set is a workload, not a corpus fraction; an uncapped stride
    // made total work quadratic AND grew the broadcast probe table with
    // the corpus) against the full corpus, per-probe window top-5. The
    // oracle-checkable ANN baseline; every ANN variant shares the same
    // capped probe fixture.
    "q_ann_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") % 100 === 0 && col("vec_id") < 5000), k = 5)
        .select(col("pid"), col("nid"), round(col("score"), 6).as("score"),
          col("rank").cast("long").as("rank"))
    }),

    // LSH-bucketed ANN (12-bit random-hyperplane buckets): the scale path.
    // Bucket membership is float-sign-sensitive → rows-only here; recall vs
    // brute force is asserted in LlmSpec.
    "q_ann_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") % 100 === 0 && col("vec_id") < 5000), k = 5, nBits = 12)
        .select(col("pid"), col("nid"), round(col("score"), 6).as("score"),
          col("rank").cast("long").as("rank"))
    }),

    // Multi-probe LSH: each probe also searches its bucket's hamming-1
    // neighbors — candidate recall is a strict superset of q_ann_lsh
    // (pinned in LlmSpec) while the corpus still carries one bucket per
    // vector. Same float-sign sensitivity as q_ann_lsh → rows-only;
    // q_ann_lsh_all remains the family's full-oracle twin (nBits=0
    // degenerates both variants to the identical brute-force plan).
    "q_ann_lsh_mp" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.lshTopKMultiProbe(emb, emb.filter(col("vec_id") % 100 === 0 && col("vec_id") < 5000),
          k = 5, nBits = 12)
        .select(col("pid"), col("nid"), round(col("score"), 6).as("score"),
          col("rank").cast("long").as("rank"))
    }),

    // Product-quantization ANN: m=4 subspaces over dim 64, codewords from a
    // bounded corpus stride (FIXED 16-slot budget — a proportional codebook
    // would grow the encode product with the corpus), integer-quantized
    // encode + ADC (floor(x·100) subvectors, integer squared-L2, ties to
    // the lowest codeword) — engine-exact end to end, so unlike the
    // float LSH/IVF variants this is a FULL-oracle production row with no
    // rows-only split. LlmSpec pins the degenerate-exactness contract
    // (m=1 + codebook=corpus ⇒ ADC ranking == exact integer-L2 ranking).
    "q_ann_pq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.pqTopK(emb, emb.filter(col("vec_id") % 100 === 0 && col("vec_id") < 5000),
          codebook = emb.filter(col("vec_id") % 101 === 0 && col("vec_id") < 1616),
          dim = 64, m = 4, topK = 5)
        .select(col("pid"), col("nid"), col("adist"),
          col("rank").cast("long").as("rank"))
    }),

    // IVF-PQ: the classic billion-vector composition — coarse integer-L2
    // cells prune candidates (nprobe=3 of the stride centroids), PQ codes
    // compress what gets scored. Both quantizers integer → full-oracle.
    // LlmSpec pins result ⊆ q_ann_pq's scores (pruning changes WHICH
    // vectors are scored, never a scored pair's adist).
    "q_ann_ivfpq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") % 100 === 0 && col("vec_id") < 5000),
          centroids = emb.filter(col("vec_id") % 101 === 0 && col("vec_id") < 1616),
          codebook = emb.filter(col("vec_id") % 101 === 0 && col("vec_id") < 1616),
          dim = 64, m = 4, topK = 5, nprobe = 3)
        .select(col("pid"), col("nid"), col("adist"),
          col("rank").cast("long").as("rank"))
    }),

    // IVF-PQ + exact re-rank: the ADC shortlist (refine×topK = 20/probe) is
    // re-scored by exact integer L2 on the raw quantized vectors — code
    // compression noise cannot survive into the final ranking, and the
    // corpus side of the re-rank is a broadcast join read by key. Both
    // stages integer → full-oracle.
    "q_ann_ivfpq_rerank" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfPqRerankTopK(emb, emb.filter(col("vec_id") % 100 === 0 && col("vec_id") < 5000),
          centroids = emb.filter(col("vec_id") % 101 === 0 && col("vec_id") < 1616),
          codebook = emb.filter(col("vec_id") % 101 === 0 && col("vec_id") < 1616),
          dim = 64, m = 4, topK = 5, nprobe = 3, refine = 4)
        .select(col("pid"), col("nid"), col("dist"), col("adist"),
          col("rank").cast("long").as("rank"))
    }),

    // LSH with nBits = 0: one bucket holds everything, so the bucketed join +
    // re-rank must reproduce brute-force top-k exactly regardless of float
    // sign sensitivity — a full hash-match oracle row for the LSH plumbing
    // (the 12-bit variant above keeps the honest recall<1 behavior).
    "q_ann_lsh_all" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") % 100 === 0 && col("vec_id") < 5000), k = 5, nBits = 0)
        .select(col("pid"), col("nid"), round(col("score"), 6).as("score"),
          col("rank").cast("long").as("rank"))
    }),

    // IVF ANN: deterministic coarse quantizer (capped corpus stride —
    // a FIXED 16-centroid budget like the PQ codebook: a proportional
    // centroid set makes the corpus×centroids assignment quadratic),
    // nprobe=3 cells per probe, exact re-rank. Cell assignment is
    // float-argmax-sensitive → rows-only; equivalence to brute force when
    // probing all cells is asserted in LlmSpec.
    "q_ann_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") % 100 === 0 && col("vec_id") < 5000),
          centroids = emb.filter(col("vec_id") % 101 === 0 &&
            col("vec_id") < 1616), k = 5, nprobe = 3)
        .select(col("pid"), col("nid"), round(col("score"), 6).as("score"),
          col("rank").cast("long").as("rank"))
    }),

    // IVF with the LEARNED quantizer: two spherical-Lloyd rounds refine the
    // stride centroids (Similarity.kmeansCentroids), then the identical
    // probe path. Float-mean jitter can flip exact assignment ties between
    // engines → rows-only here; the monotone objective, cell-count contract,
    // and drop-in plumbing are pinned in LlmSpec.
    "q_ann_ivf_kmeans" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cent = graft.llm.Similarity.kmeansCentroids(emb,
        emb.filter(col("vec_id") % 101 === 0 && col("vec_id") < 1616),
        iters = 2)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") % 100 === 0 && col("vec_id") < 5000), cent,
          k = 5, nprobe = 3)
        .select(col("pid"), col("nid"), round(col("score"), 6).as("score"),
          col("rank").cast("long").as("rank"))
    }),

    // Deterministic integer-Lloyd twin: the learned-quantizer plumbing
    // (broadcast argmin assignment, per-(cell,dim) partial-sum recompute,
    // empty-cell carry-over, 2 rounds) under floor-quantized integer
    // arithmetic DuckDB restates verbatim — the full hash-match oracle row
    // for the k-means family (q_ann_ivf_kmeans above stays the float
    // production path with its rows-only check + LlmSpec monotone pin).
    // Output is the refined centroid table itself, exploded per dimension.
    "q_ann_ivf_kmeans_det" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.kmeansDetCentroids(emb,
          emb.filter(col("vec_id") % 101 === 0 && col("vec_id") < 1616),
          iters = 2)
        .select(col("cell"), posexplode(col("cvec")).as(Seq("pos", "c")))
        .select(col("cell"), col("pos").cast("long").as("pos"), col("c"))
    }),

    // IVF probing ALL cells: every corpus row meets every probe exactly once
    // (each row lives in exactly one cell), so the result is brute-force
    // cosine top-k regardless of float-argmax assignment — which gives the
    // IVF plumbing (assignment, cell join, re-rank) a full hash-match oracle
    // row, not just the LlmSpec recall assertion.
    "q_ann_ivf_all" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") % 100 === 0 && col("vec_id") < 5000),
          centroids = emb.filter(col("vec_id") % 101 === 0 &&
            col("vec_id") < 1616), k = 5,
          nprobe = Int.MaxValue)
        .select(col("pid"), col("nid"), round(col("score"), 6).as("score"),
          col("rank").cast("long").as("rank"))
    }),

    // Embedding-cosine near-dup: LSH bucket candidates + exact cosine. The
    // oracle checks the planted slice (vec scaled by 0.5, id + 200000):
    // positive scaling preserves every hyperplane sign, so recall on true
    // duplicates is 1.0 by construction and cosine is exactly 1.
    "q_dedup_embed" -> ((s, d) => {
      Similarity.cosineNearDupPairs(embScaledDups(s, d),
          threshold = 0.999, nBits = 12)
        .filter(col("id_b") === col("id_a") + 200000L)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
    }),

    // SemDeDup (Abbas et al. 2023): cluster the NORMALIZED embeddings
    // (integer-L2 argmin over the stride centroids — normalization first
    // makes cells and cosine scale-invariant, so the 0.5×-scaled plants
    // co-cluster with their originals exactly), then drop within-cluster
    // cosine near-dups keeping the lowest id. Unlike q_dedup_embed's
    // planted-slice check, the WHOLE pipeline is restatable: every stage
    // is either integer or identical-IEEE-op double arithmetic, so the
    // oracle recomputes cells, pairs, and survivors from scratch. This is
    // the PRODUCTION parameterization (r17 verdict #3): anchorCap=64 arms
    // the exact-collapse + per-cell anchor guard that keeps a dense
    // near-parallel clump's pair stage linear (the 10x replica's measured
    // quadratic — see semDeDupSurvivors' scaladoc); the scaled plants
    // normalize bit-identically, so the exact stage drops them at ANY
    // cell size. q_dedup_semdedup_full is the paper's uncapped all-pairs
    // form, kept as the verify-only twin.
    // Centroid BUDGET (r19): the stride alone made |centroids| grow with
    // the corpus, so the N·k·dim assignment stage was quadratic by fixture
    // construction — the residual superlinearity r18 measured. Production
    // SemDeDup runs a FIXED cluster count independent of corpus size; the
    // vec_id < 101·64 bound pins k at the 64-cell budget (a no-op at the
    // shipped SFs, where every stride id already falls under it — same
    // pattern as semdedupTextCentroids' 1616 bound).
    "q_dedup_semdedup" -> ((s, d) => {
      Similarity.semDeDupSurvivors(embScaledDups(s, d),
          centroids = Tables.embeddings(s, d)
            .filter(col("vec_id") % 101 === 0 && col("vec_id") < 101 * 64),
          tau = 0.999, nBits = 0, anchorCap = 64)
        .select(col("vec_id"))
    }),

    // The paper's literal form — anchorCap=0, pure within-cluster
    // all-pairs. Verify-only: its per-cell quadratic is the measured 10x
    // waiver the capped row above retires from the bench; it stays as the
    // full-oracle semantics pin (EmbedSpec pins capped ⊇ uncapped).
    "q_dedup_semdedup_full" -> ((s, d) => {
      Similarity.semDeDupSurvivors(embScaledDups(s, d),
          centroids = Tables.embeddings(s, d)
            .filter(col("vec_id") % 101 === 0 && col("vec_id") < 101 * 64),
          tau = 0.999, nBits = 0)
        .select(col("vec_id"))
    }),

    // Multimodal: metadata-only filter — the blob column is never read
    // (column pruning), which IS the 100 TB point of the typed-struct design.
    "q_mm_meta" -> ((s, d) => {
      Multimodal.asMedia(Tables.documents(s, d), col("doc_id"), col("text"))
        .filter(col("meta.width") > 300)
        .select(col("doc_id"), col("meta.media_type").as("media_type"),
          col("meta.byte_len").as("byte_len"),
          col("meta.width").cast("long").as("width"),
          col("meta.height").cast("long").as("height"),
          col("meta.n_frames").cast("long").as("n_frames"))
    }),

    // Multimodal resize: aspect-preserving fit into 224×224 — the metadata
    // arithmetic is integer-exact, so the full op is oracle-checked.
    "q_mm_resize" -> ((s, d) => {
      Multimodal.resizeMeta(
          Multimodal.asMedia(Tables.documents(s, d), col("doc_id"), col("text")),
          targetW = 224, targetH = 224)
    }),

    // Multimodal frame sampling: every 7th frame index per doc — pure
    // generator (explode of a sequence), no shuffle.
    "q_mm_frames" -> ((s, d) => {
      Multimodal.sampleFrames(
          Multimodal.asMedia(Tables.documents(s, d), col("doc_id"), col("text")),
          everyK = 7)
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"))
    }),

    // Real media decode: binary PPM payloads built from the text, parsed by
    // the byte-level decoder (decodePpm's mapPartitions). The oracle pins
    // the PARSE against the CONSTRUCTION arithmetic: the decoder must
    // recover exactly the embedded w/h/maxval plus the raster byte count
    // and first-row byte sum (text is ASCII, so DuckDB's ord() sees the
    // same bytes).
    "q_mm_decode" -> ((s, d) => {
      Multimodal.decodePpm(
          Multimodal.asPpm(Tables.documents(s, d), col("doc_id"), col("text")))
    }),

    // Real audio decode: RIFF/WAVE (PCM-8) payloads built from the text
    // bytes, parsed by the chunk-walking decoder (parseWav's fmt/data walk
    // with word-aligned sizes). The oracle pins the PARSE against the
    // CONSTRUCTION arithmetic, exactly the q_mm_decode pattern.
    "q_mm_decode_wav" -> ((s, d) => {
      Multimodal.decodeWav(
          Multimodal.asWav(Tables.documents(s, d), col("doc_id"), col("text")))
    }),

    // PNG decode: construct REAL zlib-compressed grayscale PNGs from the
    // corpus text, then run the full decoder — chunk CRC verification,
    // INFLATE, scanline defiltering. The oracle pins the decoded features
    // against the construction arithmetic; the compression round-trip
    // itself is the engine-side reality LlmSpec fuzz-pins.
    "q_mm_decode_png" -> ((s, d) => {
      Multimodal.decodePng(
          Multimodal.asPng(Tables.documents(s, d), col("doc_id"), col("text")))
    }),

    // Generic decode dispatch: a mixed corpus (ppm / wav / png /
    // unrecognizable by doc_id % 4, built in ONE scan) through decodeMedia
    // — recognized formats decode for real, everything else yields null
    // features. This is the query that retires the r12 'fake features'
    // stub class.
    "q_mm_decode_route" -> ((s, d) => {
      Multimodal.decodeMedia(
          Multimodal.asMixedMedia(Tables.documents(s, d), col("doc_id"),
            col("text")))
    }),

    // Perceptual image hash (r17 verdict #5; r19 mixed-format; r20 color):
    // decode every payload of the MIXED plant fixture — PPM raw rasters,
    // PNG through CRC+INFLATE+defilter, grayscale AND 4:2:0 YCbCr color
    // JPEG through Huffman+dequant+IDCT (luma-only: chroma is entropy-
    // walked, never transformed) — via the magic dispatch, and emit its
    // dHash-64 off the DECODED raster. The oracle recomputes each BASE
    // hash from the construction arithmetic (integer-div sampling +
    // ord-addressed bytes; the PNG raster is the text bytes, the JPEG
    // raster is DC-exact by fixture construction) and asserts every
    // plant's hash EQUALS its original's: PPM re-encode/2× resize, PNG
    // refilter, JPEG requantization, color JPEG chroma alteration — none
    // may move the fingerprint.
    "q_mm_phash" -> ((s, d) => Multimodal.dHashMedia(mediaPhashFix(s, d))),

    // Image near-dup pairs: hamming ≤ 3 over the dHash via 16-bit-chunk
    // banding (the SimHash discipline, salt guard armed). Plants
    // co-cluster with their originals at hamming 0; distinct images pair
    // only on genuine near-collisions, which the oracle reproduces
    // exactly (banding is complete for dist ≤ 3 by pigeonhole, so the
    // SQL restatement is a plain hamming filter over band-key matches).
    // VERIFY-ONLY (r18 close): a pair list is quadratic in a clustered
    // image corpus by definition — 9.4× at 10x — so the benched
    // production form is q_mm_dedup_phash_apply below.
    "q_mm_dedup_phash" -> ((s, d) => {
      Multimodal.dHashPairs(Multimodal.dHashMedia(mediaPhashFix(s, d)), maxDist = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
    }),

    // Image near-dup APPLY — the production form: drop every image within
    // hamming 3 of a lower-id anchor (cap-lowest ids per band bucket),
    // keep the rest. Output is the survivor set (linear); work per bucket
    // is n·cap (the semdedup anchor discipline). The plants drop; the
    // whole chain — decode, hash, banding, anchors, losers — restates in
    // the oracle.
    "q_mm_dedup_phash_apply" -> ((s, d) => {
      Multimodal.dHashDedupApply(Multimodal.dHashMedia(mediaPhashFix(s, d)),
          maxDist = 3)
        .select(col("doc_id"), col("dhash"))
    }),

    // Audio envelope hash: decode every WAV of the plant fixture through
    // the real RIFF walk and emit its 65-frame energy dHash. The oracle
    // recomputes each BASE hash from the construction arithmetic and
    // asserts the plants (metadata re-encode; polarity inversion) hash
    // IDENTICALLY — both transforms change bytes, neither changes energy.
    "q_mm_ahash" -> ((s, d) => Multimodal.envelopeHashWav(wavDupFix(s, d))),

    // Audio near-dup pairs over the envelope hash — the same 16-bit-chunk
    // hamming banding (salt guard armed) the image and SimHash paths run:
    // one banding discipline, three modalities.
    "q_mm_dedup_ahash" -> ((s, d) => {
      Multimodal.dHashPairs(Multimodal.envelopeHashWav(wavDupFix(s, d)),
          maxDist = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
    }),

    // Tokenizer-aware packing: same next-fit fold as q_pack_nextfit, but the
    // budget is PINNED-VOCAB subword units — greedy longest-match over the
    // Bpe literal vocabulary (r13: replaces the ceil(len/4) heuristic, so
    // packing budgets count what a real tokenizer's greedy segmentation
    // emits). Fully oracle-checked: the vocab literals are shared verbatim
    // and DuckDB replays the greedy walk over the distinct tokens.
    "q_pack_bpe" -> ((s, d) => {
      val sized = Tables.documents(s, d)
        .select(col("doc_id"),
          graft.llm.Bpe.subwordCount(
            TextAnalysis.tokens(col("text"))).as("n_sub"))
      graft.llm.Packing.packNextFit(sized, col("doc_id"),
          pmod(col("doc_id"), lit(8)), col("doc_id"), col("n_sub"),
          maxTokens = 256L)
    }))

  /** Shared CTE chain for the langid oracles: the generated integer boost
    * literals → padded trigrams → per-(doc, lang) matched-boost sums →
    * argmax rows (`best`, filter `rk = 1`) → confidence margin (`mg`).
    *
    * Boost scoring keeps the restatement sparse: score(doc, lang) =
    * Σ_matched boost, so only MATCHED (window, lang) rows flow through the
    * join — windows × |Langs| rows (the r12 NB shape) became windows ×
    * avg-matches, which is what keeps the 10-language profile affordable
    * in the 10x DuckDB gate. Identical integer arithmetic, exact by
    * construction. */
  private lazy val LangIdScoreCtes: String =
    s"""WITH prof(lang, tri, w) AS (VALUES
      |${graft.llm.LangId.profileSqlValues}),
      |lgs(lang) AS (VALUES ${graft.llm.LangId.langsSqlValues}),
      |t AS (SELECT doc_id,
      |             concat(' ',
      |               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
      |               ' ') AS p
      |      FROM documents),
      |nw AS (SELECT doc_id, greatest(len(p) - 2, 0) AS n_win FROM t),
      |tri AS (SELECT doc_id,
      |               substr(p, CAST(unnest(generate_series(1, len(p) - 2)) AS INT),
      |                      3) AS tri
      |        FROM t),
      |hit AS (SELECT x.doc_id, p.lang, sum(p.w) AS boost
      |        FROM tri x
      |        JOIN prof p ON p.tri = x.tri
      |        GROUP BY 1, 2),
      |sc AS (SELECT nw.doc_id, l.lang, coalesce(h.boost, 0) AS score
      |       FROM nw CROSS JOIN lgs l
      |       LEFT JOIN hit h ON h.doc_id = nw.doc_id AND h.lang = l.lang),
      |best AS (SELECT doc_id, lang, score,
      |                row_number() OVER (PARTITION BY doc_id
      |                                   ORDER BY score DESC, lang) AS rk
      |         FROM sc),
      |mg AS (SELECT b1.doc_id, b1.score - b2.score AS margin
      |       FROM best b1 JOIN best b2
      |         ON b2.doc_id = b1.doc_id AND b2.rk = 2
      |       WHERE b1.rk = 1)""".stripMargin

  /** Shared CTE chain for the cluster oracles: near-dup fixture → shingles →
    * exact Jaccard pairs → undirected edges → recursive reachability. */
  private val ClusterCtes: String =
    s"""${NearDupCte.replace("WITH d3", "WITH RECURSIVE d3")},
      |tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM d3),
      |sh AS (SELECT doc_id,
      |              list_distinct(list_transform(generate_series(1, len(t) - 2),
      |                i -> array_to_string(t[i:i+2], ' '))) AS s
      |       FROM tk WHERE len(t) >= 3),
      |sz AS (SELECT doc_id, len(s) AS n_sh FROM sh),
      |inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
      |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_int
      |          FROM inv a JOIN inv b
      |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |pairs AS (SELECT id_a, id_b
      |          FROM inter
      |          JOIN sz sa ON sa.doc_id = id_a
      |          JOIN sz sb ON sb.doc_id = id_b
      |          WHERE n_int * 1.0 / (sa.n_sh + sb.n_sh - n_int) >= 0.6),
      |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |      UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
      |reach AS (
      |  SELECT src, dst FROM e
      |  UNION
      |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src)""".stripMargin

  /** Shared CTE chain restating [[Dedup.minHashDetCandidates]]: shingles →
    * packed-md5 values mod 2^31 → 64 universal-hash signature mins → 16
    * band keys → candidate pairs with agreement/64 in `est`. Shared by
    * q_dedup_minhash_det and the LSH cluster/apply det twins. */
  private val MinHashDetCtes: String =
    """tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM d3),
      |sh AS (SELECT doc_id,
      |              list_distinct(list_transform(generate_series(1, len(t) - 2),
      |                i -> array_to_string(t[i:i+2], ' '))) AS s
      |       FROM tk WHERE len(t) >= 3),
      |inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
      |hv AS (SELECT doc_id,
      |              list_sum(list_transform(generate_series(0, 14),
      |                p -> (strpos('0123456789abcdef',
      |                        substr(md5(shingle), p + 1, 1)) - 1)
      |                     * (CAST(1 AS BIGINT) << (4 * p)))) % 2147483648
      |                AS v
      |       FROM inv),
      |sig AS (SELECT doc_id, g.i AS i,
      |               min((v * (2 * g.i + 1) + (g.i * 2654435761) % 2147483647)
      |                   % 2147483647) AS s
      |        FROM hv CROSS JOIN generate_series(0, 63) AS g(i)
      |        GROUP BY 1, 2),
      |band AS (SELECT doc_id, i // 4 AS band,
      |                string_agg(CAST(s AS VARCHAR), '_' ORDER BY i) AS key
      |         FROM sig GROUP BY doc_id, i // 4),
      |bandc AS (SELECT band, key FROM band
      |          GROUP BY band, key HAVING count(*) <= 64),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |         FROM band a JOIN bandc c ON a.band = c.band AND a.key = c.key
      |         JOIN band b
      |           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
      |est AS (SELECT c.id_a, c.id_b,
      |               sum(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) / 64.0 AS e
      |        FROM cand c
      |        JOIN sig sa ON sa.doc_id = c.id_a
      |        JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
      |        GROUP BY 1, 2)""".stripMargin

  /** Continues [[MinHashDetCtes]] (under a RECURSIVE near-dup fixture) with
    * the thresholded pair set, undirected edges, and the reachability
    * closure — the oracle restatement of components-over-det-MinHash shared
    * by the LSH cluster/apply det twins. */
  private val MinHashDetClusterCtes: String =
    s"""${NearDupCte.replace("WITH d3", "WITH RECURSIVE d3")},
      |$MinHashDetCtes,
      |mp AS (SELECT id_a, id_b FROM est WHERE e >= 0.5),
      |e AS (SELECT id_a AS src, id_b AS dst FROM mp
      |      UNION ALL SELECT id_b AS src, id_a AS dst FROM mp),
      |reach AS (
      |  SELECT src, dst FROM e
      |  UNION
      |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src)""".stripMargin

  def oracles: Map[String, String] = Map(
    // planted scaled duplicates: found with recall 1 (sign-preserving
    // scaling ⇒ same bucket) and cosine exactly 1 after 6-dp rounding
    "q_dedup_embed" -> """SELECT vec_id AS id_a, vec_id + 200000 AS id_b,
      |       CAST(1.0 AS DOUBLE) AS cos
      |FROM embeddings WHERE vec_id % 9 = 0 ORDER BY id_a""".stripMargin,

    // SemDeDup recomputed from scratch: normalize (left-fold sum of
    // squares — the same IEEE op order as Spark's aggregate, so the unit
    // vectors are bit-identical), quantize, then the PRODUCTION guard
    // restated exactly — exact collapse on the unit vector (list-equality
    // window; the engine's xxhash64 grouping differs only on a hash
    // collision), argmin cells over the representatives, anchor-capped
    // pairs (row_number ≤ 64 per cell), survivors = NOT IN either loser
    // set. Zero-norm rows take a unique single-element partition key, so
    // they never collapse — mirroring the engine's -vec_id key arm.
    "q_dedup_semdedup" ->
      """WITH e2 AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 200000 AS vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE) * 0.5) AS v
        |  FROM embeddings WHERE vec_id % 9 = 0),
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
        |         WHERE vec_id < 200000 AND vec_id % 101 = 0 AND vec_id < 101 * 64),
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
        |ORDER BY vec_id""".stripMargin,

    // the paper's uncapped all-pairs twin (verify-only): the r17 oracle
    // kept verbatim — within-cell pairs with no rank restriction
    "q_dedup_semdedup_full" ->
      """WITH e2 AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 200000 AS vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE) * 0.5) AS v
        |  FROM embeddings WHERE vec_id % 9 = 0),
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
        |         WHERE vec_id < 200000 AND vec_id % 101 = 0 AND vec_id < 101 * 64),
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
        |ORDER BY vec_id""".stripMargin,

    "q_dedup_exact" -> s"""$DupCte,
      |norm AS (SELECT doc_id,
      |                regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt
      |         FROM d2)
      |SELECT min(doc_id) AS doc_id, count(*) AS dup_cnt
      |FROM norm GROUP BY nt ORDER BY doc_id""".stripMargin,

    "q_dedup_jaccard" -> s"""$NearDupCte,
      |tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM d3),
      |sh AS (SELECT doc_id,
      |              list_distinct(list_transform(generate_series(1, len(t) - 2),
      |                i -> array_to_string(t[i:i+2], ' '))) AS s
      |       FROM tk WHERE len(t) >= 3),
      |sz AS (SELECT doc_id, len(s) AS n_sh FROM sh),
      |inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
      |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_int
      |          FROM inv a JOIN inv b
      |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |j AS (SELECT id_a, id_b,
      |             n_int * 1.0 / (sa.n_sh + sb.n_sh - n_int) AS jac
      |      FROM inter
      |      JOIN sz sa ON sa.doc_id = id_a
      |      JOIN sz sb ON sb.doc_id = id_b)
      |SELECT id_a, id_b, round(jac, 6) AS jaccard
      |FROM j WHERE jac >= 0.6 ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_clusters" -> s"""$ClusterCtes
      |SELECT src AS doc_id, least(src, min(dst)) AS component
      |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,

    // restates minHashDetCandidates verbatim: packed md5 digits mod 2^31 per
    // shingle, 64 universal-hash mins, 16 bands x 4-row keys, agreement/64
    "q_dedup_minhash_det" -> s"""$NearDupCte,
      |$MinHashDetCtes
      |SELECT id_a, id_b, round(CAST(e AS DOUBLE), 6) AS est_jaccard
      |FROM est WHERE e >= 0.5 ORDER BY id_a, id_b""".stripMargin,

    // components over the det-MinHash pair graph — the production LSH
    // cluster chain's full-oracle twin
    "q_dedup_clusters_lsh_det" -> s"""$MinHashDetClusterCtes
      |SELECT src AS doc_id, least(src, min(dst)) AS component
      |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,

    "q_dedup_apply_lsh_det" -> s"""$MinHashDetClusterCtes,
      |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component
      |         FROM reach GROUP BY src)
      |SELECT doc_id FROM d3
      |WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> component)
      |ORDER BY doc_id""".stripMargin,

    // restates simHashDetPairs verbatim: bit i of the 60-bit fingerprint is
    // bit (i%4) of md5 hex digit i//4; ±1 vote per token; 4×15-bit banding
    "q_dedup_simhash_det" -> s"""$NearDupCte,
      |tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM d3),
      |th AS (SELECT doc_id, md5(tok) AS h FROM tk),
      |vote AS (SELECT doc_id, g.i AS bit,
      |           sum(CASE WHEN ((strpos('0123456789abcdef',
      |                             substr(h, (g.i // 4) + 1, 1)) - 1)
      |                          & (CAST(1 AS BIGINT) << (g.i % 4))) <> 0
      |               THEN 1 ELSE -1 END) AS v
      |         FROM th CROSS JOIN generate_series(0, 59) AS g(i)
      |         GROUP BY doc_id, g.i),
      |fp AS (SELECT doc_id,
      |              CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
      |                            ELSE 0 END) AS BIGINT) AS sh
      |       FROM vote GROUP BY doc_id),
      |ck AS (SELECT doc_id, sh, c.c AS chunk, (sh >> (c.c * 15)) & 32767 AS key
      |       FROM fp CROSS JOIN generate_series(0, 3) AS c(c)),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |                a.sh AS sa, b.sh AS sb
      |         FROM ck a JOIN ck b
      |           ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id)
      |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
      |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
      |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_apply" -> s"""$ClusterCtes,
      |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component
      |         FROM reach GROUP BY src)
      |SELECT doc_id FROM d3
      |WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> component)
      |ORDER BY doc_id""".stripMargin,

    "q_decontam" -> """WITH tk AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id,
      |              list_distinct(list_transform(generate_series(1, len(t) - 4),
      |                i -> array_to_string(t[i:i+4], ' '))) AS s
      |       FROM tk WHERE len(t) >= 5),
      |btk AS (SELECT string_split(substring(text, 1, 120), ' ') AS t
      |        FROM documents WHERE doc_id % 17 = 3),
      |bsh AS (SELECT DISTINCT unnest(
      |          list_distinct(list_transform(generate_series(1, len(t) - 4),
      |            i -> array_to_string(t[i:i+4], ' ')))) AS shingle
      |        FROM btk WHERE len(t) >= 5),
      |hits AS (SELECT doc_id, count(*) AS hits
      |         FROM (SELECT doc_id, unnest(s) AS shingle FROM sh) dd
      |         JOIN bsh USING (shingle) GROUP BY 1)
      |SELECT doc_id, hits FROM hits WHERE hits >= 2 ORDER BY doc_id""".stripMargin,

    "q_decontam_apply" -> """WITH tk AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id,
      |              list_distinct(list_transform(generate_series(1, len(t) - 4),
      |                i -> array_to_string(t[i:i+4], ' '))) AS s
      |       FROM tk WHERE len(t) >= 5),
      |btk AS (SELECT string_split(substring(text, 1, 120), ' ') AS t
      |        FROM documents WHERE doc_id % 17 = 3),
      |bsh AS (SELECT DISTINCT unnest(
      |          list_distinct(list_transform(generate_series(1, len(t) - 4),
      |            i -> array_to_string(t[i:i+4], ' ')))) AS shingle
      |        FROM btk WHERE len(t) >= 5),
      |hits AS (SELECT doc_id, count(*) AS hits
      |         FROM (SELECT doc_id, unnest(s) AS shingle FROM sh) dd
      |         JOIN bsh USING (shingle) GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_clean,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |WHERE doc_id NOT IN (SELECT doc_id FROM hits WHERE hits >= 2)""".stripMargin,

    // the fuzzy pass restated end to end: the edited-plant corpus, the
    // winnow chains for corpus AND benchmark (shared gram-hash unroll),
    // distinct-fingerprint semi-join, per-doc hit count ≥ 4
    "q_decontam_fuzzy" -> (FuzzyContamCtes +
      """SELECT doc_id, hits FROM fhits WHERE hits >= 4
        |ORDER BY doc_id""".stripMargin),

    "q_decontam_fuzzy_apply" -> (FuzzyContamCtes +
      """SELECT CAST(count(*) AS BIGINT) AS n_clean,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_chars
        |FROM c2
        |WHERE doc_id NOT IN (SELECT doc_id FROM fhits WHERE hits >= 4)""".stripMargin),

    "q_clean_full" -> """WITH tk AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id,
      |              list_distinct(list_transform(generate_series(1, len(t) - 4),
      |                i -> array_to_string(t[i:i+4], ' '))) AS s
      |       FROM tk WHERE len(t) >= 5),
      |btk AS (SELECT string_split(substring(text, 1, 120), ' ') AS t
      |        FROM documents WHERE doc_id % 17 = 3),
      |bsh AS (SELECT DISTINCT unnest(
      |          list_distinct(list_transform(generate_series(1, len(t) - 4),
      |            i -> array_to_string(t[i:i+4], ' ')))) AS shingle
      |        FROM btk WHERE len(t) >= 5),
      |hits AS (SELECT doc_id, count(*) AS hits
      |         FROM (SELECT doc_id, unnest(s) AS shingle FROM sh) dd
      |         JOIN bsh USING (shingle) GROUP BY 1),
      |kept AS (SELECT doc_id, text FROM documents
      |         WHERE doc_id NOT IN (SELECT doc_id FROM hits WHERE hits >= 2)),
      |red AS (SELECT doc_id,
      |        regexp_replace(regexp_replace(regexp_replace(text,
      |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
      |          '\+?\d[\d -]{7,}\d', '<PHONE>', 'g') AS text
      |        FROM kept),
      |norm AS (SELECT doc_id,
      |         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS ntext
      |         FROM red),
      |ded AS (SELECT ntext, min(doc_id) AS doc_id, count(*) AS dup_cnt
      |        FROM norm GROUP BY ntext)
      |SELECT doc_id, dup_cnt,
      |       CAST(len(string_split(ntext, ' ')) AS BIGINT) AS n_tokens
      |FROM ded WHERE len(string_split(ntext, ' ')) >= 10
      |ORDER BY doc_id""".stripMargin,

    "q_redact_pii" -> """WITH planted AS (
      |  SELECT doc_id,
      |         text || ' contact user' || CAST(doc_id AS VARCHAR) ||
      |         '@mail.example.com or 10.0.0.7 or call +1 555 0100 now' AS text
      |  FROM documents WHERE doc_id % 13 = 0)
      |SELECT doc_id,
      |       regexp_replace(regexp_replace(regexp_replace(text,
      |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
      |         '\+?\d[\d -]{7,}\d', '<PHONE>', 'g') AS redacted
      |FROM planted ORDER BY doc_id""".stripMargin,

    // restates LangId scoring verbatim: the SAME integer weight literals
    // (generated from LangId.profile — single source, engines cannot
    // drift), padded-trigram extraction, matched-weight + default sums,
    // argmax with alphabetical tie-break
    "q_langid" -> s"""$LangIdScoreCtes
      |SELECT b.doc_id, b.lang AS lang_pred,
      |       CAST(b.score AS BIGINT) AS best_score,
      |       CAST(e.score AS BIGINT) AS en_score,
      |       CAST(m.margin AS BIGINT) AS margin
      |FROM best b JOIN sc e ON e.doc_id = b.doc_id AND e.lang = 'en'
      |JOIN mg m ON m.doc_id = b.doc_id
      |WHERE b.rk = 1 ORDER BY b.doc_id""".stripMargin,

    // LM perplexity: matched windows join the cost VALUES literals (sparse,
    // the langid lesson), the (windows − matched) remainder pays the unseen
    // floor — closed integer arithmetic, the exact sum LmNllExpr computes
    "q_lm_perplexity" -> (
      """WITH t AS (SELECT doc_id,
        |             concat(' ',
        |               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
        |               ' ') AS p
        |      FROM documents),
        |nw AS (SELECT doc_id, greatest(len(p) - 2, 0) AS n_win FROM t),
        |""".stripMargin + LmWindowCtes + """
        |SELECT m.doc_id, m.nll, CAST(nw.n_win AS BIGINT) AS n_win,
        |       m.lm_mw AS nll_mw
        |FROM lmmw m JOIN nw ON nw.doc_id = m.doc_id
        |ORDER BY m.doc_id""".stripMargin),

    // exact P75 (linear interpolation — both engines' continuous-quantile
    // definition) then the surviving-docs stats; the production
    // q_quality_cut (approx_percentile) is rows-only — a GK sketch is not
    // restatable in SQL — and this det twin carries the family's hash proof
    "q_quality_cut_det" ->
      """WITH q AS (SELECT doc_id,
        |       (least(len(t) / 100.0, 1.0)
        |        + least(len(list_filter(t, x -> x IN ('the', 'a'))) * 1.0 / len(t) * 10.0, 1.0)
        |        + len(list_distinct(t)) * 1.0 / len(t)) / 3.0 AS quality
        |       FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
        |thr AS (SELECT quantile_cont(quality, 0.75) AS thr FROM q)
        |SELECT CAST(count(*) AS BIGINT) AS n_kept,
        |       round(min(quality), 6) AS min_kept_quality,
        |       round(any_value(thr), 6) AS threshold
        |FROM q CROSS JOIN thr WHERE quality >= thr""".stripMargin,

    // grouped exact P75 per lang (same continuous-quantile definition);
    // the production grouped-approx_percentile form is rows-only
    "q_quality_cut_by_lang_det" ->
      """WITH q AS (SELECT doc_id, lang,
        |       (least(len(t) / 100.0, 1.0)
        |        + least(len(list_filter(t, x -> x IN ('the', 'a'))) * 1.0 / len(t) * 10.0, 1.0)
        |        + len(list_distinct(t)) * 1.0 / len(t)) / 3.0 AS quality
        |       FROM (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents)),
        |thr AS (SELECT lang, quantile_cont(quality, 0.75) AS thr FROM q GROUP BY lang)
        |SELECT q.lang AS lang, CAST(count(*) AS BIGINT) AS n_kept,
        |       round(min(quality), 6) AS min_kept_quality,
        |       round(any_value(thr), 6) AS threshold
        |FROM q JOIN thr ON q.lang = thr.lang WHERE quality >= thr.thr
        |GROUP BY q.lang ORDER BY lang""".stripMargin,

    // per-language exact-median perplexity cut — the det twin of
    // q_lm_cut_by_lang: same LM CTEs with lang carried through,
    // quantile_cont (both engines' linear-interpolated exact percentile)
    "q_lm_cut_by_lang_det" -> (
      """WITH t AS (SELECT doc_id, lang,
        |             concat(' ',
        |               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
        |               ' ') AS p
        |      FROM documents),
        |nw AS (SELECT doc_id, lang, greatest(len(p) - 2, 0) AS n_win FROM t),
        |""".stripMargin + LmWindowCtes + """,
        |mw AS (SELECT m.doc_id, nw.lang, m.lm_mw AS nll_mw
        |       FROM lmmw m JOIN nw ON nw.doc_id = m.doc_id),
        |thr AS (SELECT lang, quantile_cont(nll_mw, 0.5) AS thr FROM mw GROUP BY lang)
        |SELECT mw.lang AS lang, CAST(count(*) AS BIGINT) AS n_kept,
        |       CAST(max(nll_mw) AS BIGINT) AS max_kept_mw,
        |       round(any_value(thr), 6) AS threshold
        |FROM mw JOIN thr ON mw.lang = thr.lang WHERE nll_mw <= thr.thr
        |GROUP BY mw.lang ORDER BY lang""".stripMargin),

    // temperature mixture weights: integer sqrt (engine-exact), integer
    // ppm/quota division
    "q_mix_temperature" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |           FROM documents GROUP BY source),
        |w AS (SELECT source, n_docs,
        |             CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS w
        |      FROM c),
        |t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM w)
        |SELECT source, n_docs, w,
        |       CAST((w * 1000000) // tw AS BIGINT) AS p_ppm,
        |       CAST((w * 1000) // tw AS BIGINT) AS quota_1k
        |FROM w CROSS JOIN t ORDER BY source""".stripMargin,

    // per-source report: normalized-text distinct count (the fingerprint
    // grouping's injective restatement), the shared quality formula, and
    // the LM per-window score from the shared cost literals
    "q_source_report" -> (
      """WITH t AS (SELECT doc_id, source,
        |             concat(' ',
        |               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
        |               ' ') AS p,
        |             regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt,
        |             string_split(text, ' ') AS tk
        |      FROM documents),
        |nw AS (SELECT doc_id, greatest(len(p) - 2, 0) AS n_win FROM t),
        |""".stripMargin + LmWindowCtes + s""",
      |q AS (SELECT doc_id, source, nt,
      |             (least(len(tk) / 100.0, 1.0)
      |              + least(len(list_filter(tk, x -> x IN ('the', 'a')))
      |                      * 1.0 / len(tk) * 10.0, 1.0)
      |              + len(list_distinct(tk)) * 1.0 / len(tk)) / 3.0 AS quality
      |      FROM t)
      |SELECT q.source, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(count(*) - count(DISTINCT q.nt) AS BIGINT) AS n_dups,
      |       ${OracleDefs.stableAvg4Sql("avg(q.quality)")} AS avg_quality,
      |       ${OracleDefs.stableAvg4Sql("avg(m.lm_mw)")} AS avg_lm_mw
      |FROM q JOIN lmmw m ON m.doc_id = q.doc_id
      |GROUP BY 1 ORDER BY 1""".stripMargin),

    // paragraph dedup: positional unnest of the paragraphed corpus, first
    // occurrence per normalized paragraph (row_number restates the
    // min(struct) winner — same (doc_id, pos) order), per-doc reassembly
    // in position order. Spark groups on xxhash64(normalized); the oracle
    // groups on the normalized text itself (injective here, the
    // q_dedup_exact argument).
    "q_dedup_paragraph" -> (s"$ParaCte,\n" +
      """paras AS (
        |  SELECT doc_id, len(ps) AS n_paras,
        |         unnest(list_transform(generate_series(1, len(ps)),
        |           i -> {'pos': i, 'para': ps[i]}), recursive := true)
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ps FROM pdq)),
        |rk AS (
        |  SELECT doc_id, n_paras, pos, para,
        |         row_number() OVER (
        |           PARTITION BY regexp_replace(lower(trim(para)), '\s+', ' ', 'g')
        |           ORDER BY doc_id, pos) AS r
        |  FROM paras WHERE len(trim(para)) > 0)
        |SELECT doc_id, CAST(any_value(n_paras) AS BIGINT) AS n_paras,
        |       CAST(count(*) AS BIGINT) AS n_kept,
        |       string_agg(para, chr(10) ORDER BY pos) AS kept_text
        |FROM rk WHERE r = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Gopher repetition: line fractions as list arithmetic; the top
    // 2-gram restated as the (count DESC, gram) winner over an unnested
    // (doc, gram) group — the same tie Spark's sorted fold keeps
    "q_gopher_repetition" -> (s"$SpamCte,\n" +
      """ln AS (SELECT doc_id, len(text) AS n_chars,
        |              string_split(text, chr(10)) AS ls
        |       FROM sdq),
        |base AS (
        |  SELECT doc_id, n_chars, len(ls) AS n_lines,
        |         round((len(ls) - len(list_distinct(ls))) * 1.0 / len(ls), 6)
        |           AS dup_line_frac,
        |         CASE WHEN list_sum(list_transform(ls, l -> len(l))) > 0
        |              THEN round(1.0 -
        |                list_sum(list_transform(list_distinct(ls), l -> len(l))) * 1.0 /
        |                list_sum(list_transform(ls, l -> len(l))), 6)
        |              ELSE 0.0 END AS dup_char_frac
        |  FROM ln),
        |tg AS (SELECT doc_id,
        |              unnest(list_transform(generate_series(1, len(t) - 1),
        |                i -> t[i] || ' ' || t[i+1])) AS gram
        |       FROM (SELECT doc_id,
        |                    list_filter(
        |                      string_split(replace(text, chr(10), ' '), ' '),
        |                      x -> len(x) > 0) AS t
        |             FROM sdq)),
        |gc AS (SELECT doc_id, gram, count(*) AS c FROM tg GROUP BY 1, 2),
        |top AS (SELECT doc_id, c AS top2_cnt, gram AS top2_gram FROM gc
        |        QUALIFY row_number() OVER (PARTITION BY doc_id
        |                                   ORDER BY c DESC, gram) = 1)
        |SELECT b.doc_id, CAST(n_lines AS BIGINT) AS n_lines,
        |       dup_line_frac, dup_char_frac,
        |       CAST(coalesce(top2_cnt, 0) AS BIGINT) AS top2_cnt,
        |       coalesce(top2_gram, '') AS top2_gram,
        |       round(coalesce(top2_cnt, 0) * len(coalesce(top2_gram, '')) * 1.0
        |             / n_chars, 6) AS top2_frac
        |FROM base b LEFT JOIN top USING (doc_id) ORDER BY b.doc_id""".stripMargin),

    // Gopher rules: the identical per-doc arithmetic over the planted
    // fixture; the pass flag re-derives from the UNROUNDED ratios exactly
    // as Spark's composite does
    "q_gopher_rules" -> (s"$GopherCte,\n" +
      """sig AS (SELECT doc_id, text,
        |               list_filter(
        |                 string_split(replace(text, chr(10), ' '), ' '),
        |                 x -> len(x) > 0) AS t,
        |               string_split(text, chr(10)) AS ls
        |        FROM gdq),
        |m AS (SELECT doc_id, len(t) AS n_words,
        |             CASE WHEN len(t) > 0 THEN coalesce(
        |               list_sum(list_transform(t, x -> len(x))), 0)
        |               * 1.0 / len(t) ELSE 0.0 END AS mean_word_len,
        |             CASE WHEN len(t) > 0 THEN
        |               len(list_filter(t, x -> x = '#' OR contains(x, '...')))
        |               * 1.0 / len(t) ELSE 0.0 END AS symbol_ratio,
        |             len(list_filter(ls, l -> starts_with(l, '- ')
        |               OR starts_with(l, '* '))) * 1.0 / len(ls) AS bullet_frac,
        |             len(list_filter(ls, l -> ends_with(l, '...')))
        |               * 1.0 / len(ls) AS ellipsis_frac,
        |             CASE WHEN len(t) > 0 THEN
        |               len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]')))
        |               * 1.0 / len(t) ELSE 0.0 END AS alpha_frac,
        |             len(list_filter(
        |               ['the','be','to','of','and','that','have','with'],
        |               w -> list_contains(t, w))) AS stop_hits
        |      FROM sig)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |       round(mean_word_len, 6) AS mean_word_len,
        |       round(symbol_ratio, 6) AS symbol_ratio,
        |       round(bullet_frac, 6) AS bullet_frac,
        |       round(ellipsis_frac, 6) AS ellipsis_frac,
        |       round(alpha_frac, 6) AS alpha_frac,
        |       CAST(stop_hits AS BIGINT) AS stop_hits,
        |       (n_words BETWEEN 50 AND 100000)
        |         AND (mean_word_len BETWEEN 3.0 AND 10.0)
        |         AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
        |         AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
        |         AND stop_hits >= 2 AS gopher_pass
        |FROM m ORDER BY doc_id""".stripMargin),

    "q_gopher_rules_by_lang" -> GopherByLangSql,

    // C4 cleaning: the identical line keep-rule as a list_filter lambda,
    // doc keep-rule over the raw text + kept count
    "q_c4_clean" -> (s"$C4Cte,\n" +
      """k AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls,
        |             list_filter(string_split(text, chr(10)), l ->
        |               (ends_with(l, '.') OR ends_with(l, '!')
        |                 OR ends_with(l, '?') OR ends_with(l, '"'))
        |               AND len(string_split(l, ' ')) >= 5
        |               AND NOT contains(lower(l), 'javascript')) AS kept
        |      FROM cdq)
        |SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
        |       CAST(len(kept) AS BIGINT) AS n_kept,
        |       CAST(len(array_to_string(kept, chr(10))) AS BIGINT) AS clean_chars,
        |       (NOT contains(lower(text), 'lorem ipsum'))
        |         AND (NOT contains(text, '{'))
        |         AND len(kept) >= 3 AS doc_kept
        |FROM k ORDER BY doc_id""".stripMargin),

    // incremental dedup: within-batch survivors on the normalized text,
    // anti-joined against the snapshot's normalized-text set
    "q_dedup_incremental" ->
      """WITH nb AS (
        |  SELECT doc_id + 400000 AS doc_id, text FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id + 500000 AS doc_id, text FROM documents WHERE doc_id % 6 = 0),
        |bn AS (SELECT doc_id,
        |              regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
        |       FROM nb),
        |bs AS (SELECT min(doc_id) AS doc_id, nt,
        |              CAST(count(*) AS BIGINT) AS batch_dups
        |       FROM bn GROUP BY nt),
        |sn AS (SELECT DISTINCT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
        |       FROM documents WHERE doc_id % 5 = 0)
        |SELECT doc_id, batch_dups FROM bs
        |WHERE nt NOT IN (SELECT nt FROM sn) ORDER BY doc_id""".stripMargin,

    // vocabulary profile: token frequency + doc frequency, top 25 with the
    // token tie-break shared by both engines
    "q_vocab_topk" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |             FROM documents)
        |SELECT token, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |FROM tok GROUP BY token ORDER BY n DESC, token LIMIT 25""".stripMargin,

    // winnowing profile: the fps CTE replays the identical rolling-hash
    // fold (unrolled per position) + window-min + distinct-sort
    "q_fp_winnow" -> (s"WITH ${winnowFpsCtes("documents")} " +
      """SELECT doc_id, CAST(len(fp) AS BIGINT) AS n_fp,
        |       fp[1] AS fp_min, fp[len(fp)] AS fp_max,
        |       CAST(list_aggregate(fp, 'sum') AS BIGINT) AS fp_sum
        |FROM fps ORDER BY doc_id""".stripMargin),

    // winnowing near-dup pairs over the planted-mutant corpus: inverted
    // index, df cap 64, post-cut set resemblance >= 0.5
    "q_dedup_winnow" -> (s"$NearDupCte, ${winnowFpsCtes("d3")}, $WinnowPairCtes " +
      """SELECT id_a, id_b, shared, round(resem, 6) AS resemblance
        |FROM wp ORDER BY id_a, id_b""".stripMargin),

    // end-to-end winnow dedup: transitive closure over the wp pair set,
    // survivors = corpus minus non-min cluster members (same recursive-CTE
    // closure as q_dedup_apply's)
    "q_dedup_winnow_apply" -> (s"${NearDupCte.replace("WITH d3", "WITH RECURSIVE d3")}, " +
      s"${winnowFpsCtes("d3")}, $WinnowPairCtes, " +
      """e AS (SELECT id_a AS src, id_b AS dst FROM wp
        |      UNION ALL SELECT id_b AS src, id_a AS dst FROM wp),
        |reach AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
        |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component
        |         FROM reach GROUP BY src)
        |SELECT doc_id FROM d3
        |WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> component)
        |ORDER BY doc_id""".stripMargin),

    // shard = top 3 key bits (// 2^29), pos = per-shard row_number over
    // (key, doc_id) — the oracle states the rank directly; the engine's
    // bucketed decomposition must reproduce it exactly
    "q_shard_shuffle" ->
      """WITH s AS (SELECT doc_id,
        |  ((doc_id % 2147483648) * 2654435761) % 4294967296 AS key
        |  FROM documents)
        |SELECT doc_id, CAST(key // 536870912 AS INT) AS shard,
        |       row_number() OVER (PARTITION BY key // 536870912
        |                          ORDER BY key, doc_id) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin,

    // consecutive scramble ranges: floor(0.8·2^32), floor(0.9·2^32)
    "q_split" ->
      """WITH s AS (SELECT doc_id,
        |  CASE WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296 < 3435973836
        |         THEN 'train'
        |       WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296 < 3865470566
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
        |       min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_text_repetition" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |            FROM documents),
        |cnt AS (SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY 1, 2),
        |mx AS (SELECT doc_id, max(c) AS max_freq FROM cnt GROUP BY 1),
        |n AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok
        |      FROM documents)
        |SELECT mx.doc_id, CAST(max_freq AS BIGINT) AS max_freq,
        |       round(max_freq * 1.0 / n_tok, 6) AS rep_ratio
        |FROM mx JOIN n ON n.doc_id = mx.doc_id ORDER BY mx.doc_id""".stripMargin,

    // same integer scramble threshold as the Spark filter: floor(0.1·2^32)
    "q_sample_bernoulli" ->
      """SELECT doc_id, source FROM documents
        |WHERE ((doc_id % 2147483648) * 2654435761) % 4294967296 < 429496729
        |ORDER BY doc_id""".stripMargin,

    // per-language corpus roll-up: langid CTEs + the token-stat formulas
    "q_corpus_stats" -> s"""$LangIdScoreCtes,
      |st AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |feat AS (SELECT doc_id,
      |                CAST(len(tk) AS BIGINT) AS n_tokens,
      |                CAST(list_sum(list_transform(tk,
      |                  x -> greatest(1, CAST(ceil(length(x) / 4.0) AS BIGINT))))
      |                  AS BIGINT) AS subwords,
      |                (least(len(tk) / 100.0, 1.0)
      |                 + least(len(list_filter(tk, x -> x IN ('the', 'a')))
      |                         * 1.0 / len(tk) * 10.0, 1.0)
      |                 + len(list_distinct(tk)) * 1.0 / len(tk)) / 3.0 AS quality
      |         FROM st),
      |pred AS (SELECT b.doc_id,
      |                CASE WHEN m.margin <= ${graft.llm.LangId.MarginPerWindow}
      |                                      * nw.n_win
      |                     THEN 'und' ELSE b.lang END AS lang_pred
      |         FROM best b
      |         JOIN mg m ON m.doc_id = b.doc_id
      |         JOIN nw ON nw.doc_id = b.doc_id
      |         WHERE b.rk = 1),
      |$LmWindowCtes,
      |gsig AS (SELECT doc_id, text,
      |                list_filter(
      |                  string_split(replace(text, chr(10), ' '), ' '),
      |                  x -> len(x) > 0) AS t,
      |                string_split(text, chr(10)) AS ls
      |         FROM documents),
      |gp AS (SELECT doc_id,
      |              len(t) > 0
      |                AND (len(t) BETWEEN 50 AND 100000)
      |                AND (coalesce(list_sum(list_transform(t, x -> len(x))), 0)
      |                     * 1.0 / len(t) BETWEEN 3.0 AND 10.0)
      |                AND len(list_filter(t, x -> x = '#' OR contains(x, '...')))
      |                    * 1.0 / len(t) <= 0.1
      |                AND len(list_filter(ls, l -> starts_with(l, '- ')
      |                    OR starts_with(l, '* '))) * 1.0 / len(ls) <= 0.9
      |                AND len(list_filter(ls, l -> ends_with(l, '...')))
      |                    * 1.0 / len(ls) <= 0.3
      |                AND len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]')))
      |                    * 1.0 / len(t) >= 0.8
      |                AND len(list_filter(
      |                  ['the','be','to','of','and','that','have','with'],
      |                  w -> list_contains(t, w))) >= 2 AS pass
      |       FROM gsig),
      |rtk AS (SELECT doc_id, unnest(tk) AS tok FROM st),
      |rcnt AS (SELECT doc_id, tok, count(*) AS c FROM rtk GROUP BY 1, 2),
      |rep AS (SELECT r.doc_id, max(r.c) * 1.0 / any_value(f.n_tokens) AS rr
      |        FROM rcnt r JOIN feat f USING (doc_id) GROUP BY r.doc_id)
      |SELECT p.lang_pred,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(f.n_tokens) AS BIGINT) AS total_tokens,
      |       CAST(sum(f.subwords) AS BIGINT) AS total_subwords,
      |       ${OracleDefs.stableAvg4Sql("avg(f.quality)")} AS avg_quality,
      |       ${OracleDefs.stableAvg4Sql("avg(l.lm_mw)")} AS avg_lm_mw,
      |       CAST(sum(CASE WHEN g.pass THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_gopher_pass,
      |       ${OracleDefs.stableAvg4Sql("avg(r.rr)")} AS avg_rep_ratio
      |FROM pred p JOIN feat f USING (doc_id) JOIN lmmw l USING (doc_id)
      |     JOIN gp g USING (doc_id) JOIN rep r USING (doc_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_text_stats" ->
      """SELECT doc_id,
        |       CAST(len(t) AS BIGINT) AS n_tokens,
        |       CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
        |       round((length(text) - len(t) + 1) * 1.0 / len(t), 6) AS avg_tok_len,
        |       CAST(len(list_filter(t, x -> x IN ('the', 'a'))) AS BIGINT) AS stop_cnt,
        |       round((least(len(t) / 100.0, 1.0)
        |              + least(len(list_filter(t, x -> x IN ('the', 'a'))) * 1.0 / len(t) * 10.0, 1.0)
        |              + len(list_distinct(t)) * 1.0 / len(t)) / 3.0, 6) AS quality,
        |       CASE WHEN len(list_filter(t, x -> x IN ('the', 'a'))) * 1.0 / len(t) >= 0.06
        |            THEN 'en-like' ELSE 'other' END AS en_like,
        |       CAST(list_sum(list_transform(t,
        |              x -> greatest(1, CAST(ceil(length(x) / 4.0) AS BIGINT)))) AS BIGINT) AS subwords
        |FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // identical SQL to q_ann_topk: a single LSH bucket IS brute force
    "q_ann_lsh_all" ->
      """WITH p AS (SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS pv
        |           FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 5000),
        |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
        |s AS (SELECT pid, nid, list_cosine_similarity(pv, nv) AS score
        |      FROM p CROSS JOIN c WHERE nid <> pid),
        |r AS (SELECT pid, nid, score,
        |             row_number() OVER (PARTITION BY pid ORDER BY score DESC, nid) AS rank
        |      FROM s)
        |SELECT pid, nid, round(score, 6) AS score, rank
        |FROM r WHERE rank <= 5 ORDER BY pid, rank""".stripMargin,

    // restates pqTopK verbatim: floor(x·100) integer subvectors (m=4 ×
    // dsub=16), per-(vector, subspace) argmin over the bounded-stride
    // codebook (ties → lowest codeword id), ADC = sum of the probe's
    // precomputed subspace distances over each vector's codes
    "q_ann_pq" -> (PqCtes + ", " +
      """sc AS (SELECT d.pid, k.nid, CAST(sum(d.pd) AS BIGINT) AS adist
        |       FROM codes k JOIN dt d ON d.j = k.j AND d.cid = k.code
        |       GROUP BY d.pid, k.nid HAVING d.pid <> k.nid),
        |r AS (SELECT pid, nid, adist,
        |             row_number() OVER (PARTITION BY pid
        |                                ORDER BY adist, nid) AS rank
        |      FROM sc)
        |SELECT pid, nid, adist, rank
        |FROM r WHERE rank <= 5 ORDER BY pid, rank""".stripMargin),

    // IVF-PQ: the PQ CTEs plus the coarse integer-L2 cell layer — corpus
    // cells by argmin over the capped (16-slot) stride centroids, probe
    // visits its nprobe=3 nearest cells, ADC restricted to candidates
    "q_ann_ivfpq" -> (PqCtes + ", " +
      """qcent AS (SELECT vec_id AS cell,
        |            list_transform(CAST(embedding AS DOUBLE[]),
        |              x -> CAST(floor(x * 100) AS BIGINT)) AS qv
        |          FROM embeddings WHERE vec_id % 101 = 0 AND vec_id < 1616),
        |ncell AS (SELECT nid, cell FROM (
        |            SELECT n.nid, c.cell,
        |                   row_number() OVER (PARTITION BY n.nid ORDER BY
        |                     CAST(list_sum(list_transform(generate_series(1, 64),
        |                       t -> (n.qv[t] - c.qv[t]) * (n.qv[t] - c.qv[t]))) AS BIGINT),
        |                     c.cell) AS rk
        |            FROM qc n CROSS JOIN qcent c) WHERE rk = 1),
        |pcell AS (SELECT pid, cell FROM (
        |            SELECT p.pid, c.cell,
        |                   row_number() OVER (PARTITION BY p.pid ORDER BY
        |                     CAST(list_sum(list_transform(generate_series(1, 64),
        |                       t -> (p.qv[t] - c.qv[t]) * (p.qv[t] - c.qv[t]))) AS BIGINT),
        |                     c.cell) AS rk
        |            FROM qp p CROSS JOIN qcent c) WHERE rk <= 3),
        |cand AS (SELECT pc.pid, nc.nid
        |         FROM ncell nc JOIN pcell pc ON nc.cell = pc.cell
        |         WHERE nc.nid <> pc.pid),
        |sc AS (SELECT a.pid, a.nid, CAST(sum(d.pd) AS BIGINT) AS adist
        |       FROM cand a
        |       JOIN codes k ON k.nid = a.nid
        |       JOIN dt d ON d.pid = a.pid AND d.j = k.j AND d.cid = k.code
        |       GROUP BY a.pid, a.nid),
        |r AS (SELECT pid, nid, adist,
        |             row_number() OVER (PARTITION BY pid
        |                                ORDER BY adist, nid) AS rank
        |      FROM sc)
        |SELECT pid, nid, adist, rank
        |FROM r WHERE rank <= 5 ORDER BY pid, rank""".stripMargin),

    // IVF-PQ + exact re-rank: the ivfpq pipeline cut at the refine×topK=20
    // shortlist, each survivor re-scored by exact integer L2 over the full
    // quantized vectors (qc/qp from the PQ CTEs), re-cut at topK=5
    "q_ann_ivfpq_rerank" -> (PqCtes + ", " +
      """qcent AS (SELECT vec_id AS cell,
        |            list_transform(CAST(embedding AS DOUBLE[]),
        |              x -> CAST(floor(x * 100) AS BIGINT)) AS qv
        |          FROM embeddings WHERE vec_id % 101 = 0 AND vec_id < 1616),
        |ncell AS (SELECT nid, cell FROM (
        |            SELECT n.nid, c.cell,
        |                   row_number() OVER (PARTITION BY n.nid ORDER BY
        |                     CAST(list_sum(list_transform(generate_series(1, 64),
        |                       t -> (n.qv[t] - c.qv[t]) * (n.qv[t] - c.qv[t]))) AS BIGINT),
        |                     c.cell) AS rk
        |            FROM qc n CROSS JOIN qcent c) WHERE rk = 1),
        |pcell AS (SELECT pid, cell FROM (
        |            SELECT p.pid, c.cell,
        |                   row_number() OVER (PARTITION BY p.pid ORDER BY
        |                     CAST(list_sum(list_transform(generate_series(1, 64),
        |                       t -> (p.qv[t] - c.qv[t]) * (p.qv[t] - c.qv[t]))) AS BIGINT),
        |                     c.cell) AS rk
        |            FROM qp p CROSS JOIN qcent c) WHERE rk <= 3),
        |cand AS (SELECT pc.pid, nc.nid
        |         FROM ncell nc JOIN pcell pc ON nc.cell = pc.cell
        |         WHERE nc.nid <> pc.pid),
        |sc AS (SELECT a.pid, a.nid, CAST(sum(d.pd) AS BIGINT) AS adist
        |       FROM cand a
        |       JOIN codes k ON k.nid = a.nid
        |       JOIN dt d ON d.pid = a.pid AND d.j = k.j AND d.cid = k.code
        |       GROUP BY a.pid, a.nid),
        |shortl AS (SELECT pid, nid, adist FROM (
        |             SELECT pid, nid, adist,
        |                    row_number() OVER (PARTITION BY pid
        |                                       ORDER BY adist, nid) AS rank
        |             FROM sc) WHERE rank <= 20),
        |rr AS (SELECT s.pid, s.nid, s.adist,
        |              CAST(list_sum(list_transform(generate_series(1, 64),
        |                t -> (n.qv[t] - p.qv[t]) * (n.qv[t] - p.qv[t]))) AS BIGINT) AS dist
        |       FROM shortl s
        |       JOIN qc n ON n.nid = s.nid JOIN qp p ON p.pid = s.pid),
        |rr2 AS (SELECT pid, nid, dist, adist,
        |               row_number() OVER (PARTITION BY pid
        |                                  ORDER BY dist, nid) AS rank
        |        FROM rr)
        |SELECT pid, nid, dist, adist, rank
        |FROM rr2 WHERE rank <= 5 ORDER BY pid, rank""".stripMargin),

    // restates kmeansDetCentroids verbatim: floor(x·100) integer vectors,
    // two unrolled Lloyd rounds — integer-distance argmin (ties → lowest
    // cell), per-(cell,dim) sums, floor(s/m) centroid update with
    // empty-cell carry-over — then the final centroids exploded per dim
    "q_ann_ivf_kmeans_det" -> {
      def round(inC: String, outC: String, k: Int) =
        s"""d$k AS (SELECT q.vec_id, q.v, $inC.cell,
          |          list_sum(list_transform(generate_series(1, 64),
          |            i -> (q.v[i] - $inC.cv[i]) * (q.v[i] - $inC.cv[i]))) AS d
          |       FROM q CROSS JOIN $inC),
          |a$k AS (SELECT vec_id, v, cell FROM (
          |         SELECT vec_id, v, cell,
          |                row_number() OVER (PARTITION BY vec_id
          |                                   ORDER BY d, cell) AS rk
          |         FROM d$k) WHERE rk = 1),
          |s$k AS (SELECT cell, g.i AS pos, sum(v[g.i]) AS s, count(*) AS m
          |       FROM a$k CROSS JOIN generate_series(1, 64) AS g(i)
          |       GROUP BY cell, g.i),
          |$outC AS (SELECT $inC.cell, coalesce(n.cv, $inC.cv) AS cv
          |       FROM $inC LEFT JOIN (
          |         SELECT cell, list(CAST(floor(CAST(s AS DOUBLE) / m) AS BIGINT)
          |                           ORDER BY pos) AS cv
          |         FROM s$k GROUP BY cell) n USING (cell))""".stripMargin
      s"""WITH q AS (SELECT vec_id,
        |            list_transform(CAST(embedding AS DOUBLE[]),
        |              x -> CAST(floor(x * 100) AS BIGINT)) AS v
        |           FROM embeddings),
        |c0 AS (SELECT vec_id AS cell, v AS cv FROM q
        |       WHERE vec_id % 101 = 0 AND vec_id < 1616),
        |${round("c0", "c1", 1)},
        |${round("c1", "c2", 2)}
        |SELECT cell, CAST(g.i - 1 AS BIGINT) AS pos, cv[g.i] AS c
        |FROM c2 CROSS JOIN generate_series(1, 64) AS g(i)
        |ORDER BY cell, pos""".stripMargin
    },

    // identical SQL to q_ann_topk: probing all cells IS brute force
    "q_ann_ivf_all" ->
      """WITH p AS (SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS pv
        |           FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 5000),
        |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
        |s AS (SELECT pid, nid, list_cosine_similarity(pv, nv) AS score
        |      FROM p CROSS JOIN c WHERE nid <> pid),
        |r AS (SELECT pid, nid, score,
        |             row_number() OVER (PARTITION BY pid ORDER BY score DESC, nid) AS rank
        |      FROM s)
        |SELECT pid, nid, round(score, 6) AS score, rank
        |FROM r WHERE rank <= 5 ORDER BY pid, rank""".stripMargin,

    "q_ann_topk" ->
      """WITH p AS (SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS pv
        |           FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 5000),
        |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
        |s AS (SELECT pid, nid, list_cosine_similarity(pv, nv) AS score
        |      FROM p CROSS JOIN c WHERE nid <> pid),
        |r AS (SELECT pid, nid, score,
        |             row_number() OVER (PARTITION BY pid ORDER BY score DESC, nid) AS rank
        |      FROM s)
        |SELECT pid, nid, round(score, 6) AS score, rank
        |FROM r WHERE rank <= 5 ORDER BY pid, rank""".stripMargin,

    // quality/en-like gate, then the WINNOW near-dup chain (the
    // q_dedup_winnow_apply CTEs parameterized on the kept subset) +
    // transitive components — the production pipeline restated end to end
    "q_clean_pipeline" -> (s"${NearDupCte.replace("WITH d3", "WITH RECURSIVE d3")}, " +
      """st AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM d3),
      |kq AS (SELECT doc_id, text,
      |       (least(len(t) / 100.0, 1.0)
      |        + least(len(list_filter(t, x -> x IN ('the', 'a'))) * 1.0 / len(t) * 10.0, 1.0)
      |        + len(list_distinct(t)) * 1.0 / len(t)) / 3.0 AS quality,
      |       len(list_filter(t, x -> x IN ('the', 'a'))) * 1.0 / len(t) AS sr
      |       FROM st),
      |k2 AS (SELECT doc_id, text, quality FROM kq
      |       WHERE quality >= 0.5 AND sr >= 0.06), """.stripMargin +
      s"${winnowFpsCtes("k2")}, $WinnowPairCtes, " +
      """e AS (SELECT id_a AS src, id_b AS dst FROM wp
      |      UNION ALL SELECT id_b AS src, id_a AS dst FROM wp),
      |reach AS (
      |  SELECT src, dst FROM e
      |  UNION
      |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
      |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component
      |         FROM reach GROUP BY src)
      |SELECT doc_id, round(quality, 6) AS quality FROM k2
      |WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> component)
      |ORDER BY doc_id""".stripMargin),

    "q_sample_capped" ->
      """WITH t AS (SELECT doc_id % 7 AS domain, doc_id,
        |                  ((doc_id % 2147483648) * 2654435761) % 4294967296 AS sk
        |           FROM documents),
        |r AS (SELECT domain, doc_id,
        |             row_number() OVER (PARTITION BY domain ORDER BY sk, doc_id) AS rk
        |      FROM t)
        |SELECT domain, doc_id FROM r WHERE rk <= 20
        |ORDER BY domain, doc_id""".stripMargin,

    "q_sample_mixture" ->
      """WITH t AS (SELECT source, doc_id,
        |                  ((doc_id % 2147483648) * 2654435761) % 4294967296 AS sk
        |           FROM documents WHERE source IN ('src0', 'src1', 'src2')),
        |r AS (SELECT source, doc_id,
        |             row_number() OVER (PARTITION BY source ORDER BY sk, doc_id) AS rk
        |      FROM t)
        |SELECT source, doc_id FROM r
        |WHERE rk <= CASE source WHEN 'src0' THEN 20 WHEN 'src1' THEN 12
        |                        WHEN 'src2' THEN 8 END
        |ORDER BY source, doc_id""".stripMargin,

    // BPE training: the identical rounds unrolled — pair counts from
    // adjacent symbols, (cnt DESC, l, r) argmax, non-overlapping replace
    "q_bpe_train" -> bpeTrainSql(BpeTrainRounds),
    "q_bpe_train_batched" -> bpeTrainBatchedSql(BpeBatchRounds, BpeBatchK),
    "q_bpe_train_sampled" -> bpeTrainBatchedSql(BpeBatchRounds, BpeBatchK,
      " WHERE doc_id % 7 = 0 AND doc_id < 28672"),

    // learned-merge tokenization: training CTEs + rank-order replay
    "q_bpe_train_apply" -> bpeTrainApplySql(BpeTrainRounds),

    "q_tokenize_ids" -> tokenizeIdsSql(BpeTrainRounds),

    // chunking: identical integer window arithmetic — chunk i slices
    // [i*24+1, i*24+32], list slicing clamps at the end in both engines
    "q_chunk_overlap" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk,
        |                  len(string_split(text, ' ')) AS n
        |           FROM documents),
        |c AS (SELECT doc_id, tk,
        |             CASE WHEN n <= 32 THEN 1
        |                  ELSE 1 + CAST(ceil((n - 32) / 24.0) AS BIGINT)
        |             END AS nc
        |      FROM t),
        |x AS (SELECT doc_id, tk,
        |             unnest(generate_series(0, nc - 1)) AS chunk_idx
        |      FROM c)
        |SELECT doc_id, chunk_idx,
        |       CAST(len(tk[chunk_idx*24+1 : chunk_idx*24+32]) AS BIGINT)
        |         AS chunk_tokens,
        |       CAST(len(array_to_string(tk[chunk_idx*24+1 : chunk_idx*24+32],
        |         ' ')) AS BIGINT) AS chunk_chars
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_pack_nextfit" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id % 8 AS shard, doc_id,
        |         len(string_split(text, ' ')) AS sz,
        |         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
        |  FROM documents),
        |r AS (
        |  SELECT shard, rn, doc_id, sz, CAST(sz AS BIGINT) AS acc,
        |         CAST(0 AS BIGINT) AS pack_id
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.shard, t.rn, t.doc_id, t.sz,
        |         CASE WHEN r.acc + t.sz > 512 THEN CAST(t.sz AS BIGINT)
        |              ELSE r.acc + t.sz END,
        |         CASE WHEN r.acc + t.sz > 512 THEN r.pack_id + 1
        |              ELSE r.pack_id END
        |  FROM r JOIN t ON t.shard = r.shard AND t.rn = r.rn + 1)
        |SELECT shard, doc_id, pack_id FROM r ORDER BY doc_id""".stripMargin,

    "q_mm_meta" ->
      """SELECT doc_id,
        |       'image/fake' AS media_type,
        |       CAST(strlen(text) AS BIGINT) AS byte_len,
        |       CAST(strlen(text) % 640 AS BIGINT) AS width,
        |       CAST(strlen(text) % 480 AS BIGINT) AS height,
        |       CAST(strlen(text) % 24 + 1 AS BIGINT) AS n_frames
        |FROM documents WHERE strlen(text) % 640 > 300 ORDER BY doc_id""".stripMargin,

    "q_mm_resize" ->
      """WITH m AS (SELECT doc_id,
        |                  CAST(strlen(text) % 640 AS BIGINT) AS w,
        |                  CAST(strlen(text) % 480 AS BIGINT) AS h,
        |                  CAST(strlen(text) AS BIGINT) AS bl
        |           FROM documents)
        |SELECT doc_id, w AS width, h AS height,
        |  CASE WHEN w <= 0 OR h <= 0 THEN NULL
        |       WHEN w * 224 <= h * 224 THEN (w * 224) // h
        |       ELSE 224 END AS new_width,
        |  CASE WHEN w <= 0 OR h <= 0 THEN NULL
        |       WHEN w * 224 <= h * 224 THEN 224
        |       ELSE (h * 224) // w END AS new_height,
        |  CASE WHEN w <= 0 OR h <= 0 THEN NULL
        |       ELSE (bl * (CASE WHEN w * 224 <= h * 224 THEN (w * 224) // h ELSE 224 END)
        |                * (CASE WHEN w * 224 <= h * 224 THEN 224 ELSE (h * 224) // w END))
        |             // (w * h) END AS est_bytes
        |FROM m ORDER BY doc_id""".stripMargin,

    "q_mm_frames" ->
      """SELECT doc_id, CAST(unnest(generate_series(0, strlen(text) % 24, 7)) AS BIGINT) AS frame_idx
        |FROM documents ORDER BY doc_id, frame_idx""".stripMargin,

    // the decoder must recover the constructed header + raster summary
    "q_mm_decode" ->
      """WITH m AS (SELECT doc_id,
        |                  CAST(strlen(text) % 64 + 1 AS BIGINT) AS width,
        |                  CAST(strlen(text) % 48 + 1 AS BIGINT) AS height,
        |                  CAST(strlen(text) AS BIGINT) AS data_bytes,
        |                  text
        |           FROM documents),
        |k AS (SELECT doc_id, width, height, data_bytes,
        |             CAST(least(3 * width, data_bytes) AS INT) AS k0, text
        |      FROM m)
        |SELECT doc_id, width, height, CAST(255 AS BIGINT) AS maxval,
        |       data_bytes,
        |       CASE WHEN k0 <= 0 THEN NULL
        |            ELSE CAST(list_sum(list_transform(generate_series(1, k0),
        |                   i -> ord(substr(text, CAST(i AS INT), 1)))) AS BIGINT)
        |       END AS sum_row0
        |FROM k ORDER BY doc_id""".stripMargin,

    // the decoder must recover the constructed RIFF/PCM header + sample
    // summary (ASCII fixture: ord-over-chars equals the byte read)
    "q_mm_decode_wav" ->
      """WITH m AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n, text
        |           FROM documents)
        |SELECT doc_id,
        |       n % 2 + 1 AS channels,
        |       8000 + n % 8000 AS sample_rate,
        |       CAST(8 AS BIGINT) AS bits,
        |       n AS data_bytes,
        |       n // (n % 2 + 1) AS n_samples,
        |       CASE WHEN n <= 0 THEN NULL
        |            ELSE CAST(list_sum(list_transform(
        |                   generate_series(1, CAST(least(48, n) AS INT)),
        |                   i -> ord(substr(text, CAST(i AS INT), 1)))) AS BIGINT)
        |       END AS sum0
        |FROM m ORDER BY doc_id""".stripMargin,

    // dispatch: each arm's features restated from the construction; the
    // sentinel arm must be all-null
    // png arm: w = n%64+1 (the ppm fold), h = ceil(n/w) >= 1 (zero-padded
    // raster), data_bytes = padded w*h, sum0 over the first scanline =
    // first least(w, n) text bytes (+ zero padding), 0 for an empty text
    "q_mm_decode_route" ->
      """WITH m AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n,
        |                  doc_id % 4 AS arm, text
        |           FROM documents),
        |g AS (SELECT doc_id, n, arm, text, n % 64 + 1 AS pw,
        |             greatest((n + n % 64) // (n % 64 + 1), 1) AS ph
        |      FROM m)
        |SELECT doc_id,
        |       CASE arm WHEN 0 THEN 'ppm' WHEN 1 THEN 'wav' WHEN 2 THEN 'png' END AS format,
        |       CASE WHEN arm = 0 THEN n % 64 + 1 WHEN arm = 2 THEN pw END AS width,
        |       CASE WHEN arm = 0 THEN n % 48 + 1 WHEN arm = 2 THEN ph END AS height,
        |       CASE WHEN arm = 1 THEN n % 2 + 1 WHEN arm = 2 THEN 1 END AS channels,
        |       CASE WHEN arm = 1 THEN 8000 + n % 8000 END AS sample_rate,
        |       CASE WHEN arm IN (0, 1) THEN n WHEN arm = 2 THEN pw * ph END AS data_bytes,
        |       CASE WHEN arm = 0 AND least(3 * (n % 64 + 1), n) > 0
        |              THEN CAST(list_sum(list_transform(
        |                     generate_series(1, CAST(least(3 * (n % 64 + 1), n) AS INT)),
        |                     i -> ord(substr(text, CAST(i AS INT), 1)))) AS BIGINT)
        |            WHEN arm = 1 AND n > 0
        |              THEN CAST(list_sum(list_transform(
        |                     generate_series(1, CAST(least(48, n) AS INT)),
        |                     i -> ord(substr(text, CAST(i AS INT), 1)))) AS BIGINT)
        |            WHEN arm = 2
        |              THEN coalesce(CAST(list_sum(list_transform(
        |                     generate_series(1, CAST(least(pw, n) AS INT)),
        |                     i -> ord(substr(text, CAST(i AS INT), 1)))) AS BIGINT), 0)
        |       END AS sum0
        |FROM g ORDER BY doc_id""".stripMargin,

    "q_mm_decode_png" ->
      """WITH m AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n, text
        |           FROM documents),
        |g AS (SELECT doc_id, n, text, n % 64 + 1 AS w,
        |             greatest((n + n % 64) // (n % 64 + 1), 1) AS h
        |      FROM m)
        |SELECT doc_id, w AS width, h AS height,
        |       CAST(1 AS BIGINT) AS channels, w * h AS data_bytes,
        |       coalesce(CAST(list_sum(list_transform(
        |         generate_series(1, CAST(least(w, n) AS INT)),
        |         i -> ord(substr(text, CAST(i AS INT), 1)))) AS BIGINT), 0)
        |         AS sum_row0
        |FROM g ORDER BY doc_id""".stripMargin,

    // dHash recomputed from the construction arithmetic: sanitize, derive
    // (w, h) from the byte length, sample the 9×8 grid with integer-div
    // indices, sum 3 ord-addressed channel bytes per sample (missing
    // raster bytes read 0), pack 64 difference bits (bit 63 is the signed
    // two's-complement literal — DuckDB's 1<<63 overflows). The plant rows
    // assert the INVARIANT: a re-encode (id+500000) and a 2× nearest-
    // neighbor resize (id+600000) hash identically to their original.
    "q_mm_phash" -> s"""$PhashCtes,
      |$PngPhashCtes,
      |$JpegPhashCtes
      |SELECT doc_id, dhash FROM (
      |  SELECT * FROM all3 UNION ALL SELECT * FROM pall
      |  UNION ALL SELECT * FROM jall)
      |ORDER BY doc_id""".stripMargin,

    // band-key matches (4 × 16-bit chunks; arithmetic >> matches Spark's
    // shiftright on negative hashes, the & 65535 mask makes them equal),
    // then the exact hamming filter — complete for dist ≤ 3 by pigeonhole
    "q_mm_dedup_phash" -> s"""$PhashCtes,
      |$PngPhashCtes,
      |$JpegPhashCtes,
      |allm AS (SELECT * FROM all3 UNION ALL SELECT * FROM pall
      |         UNION ALL SELECT * FROM jall),
      |ck AS (SELECT doc_id, dhash, band,
      |              (dhash >> CAST(16 * band AS INT)) & 65535 AS key
      |       FROM allm CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b),
      |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
      |                x.dhash AS ha, y.dhash AS hb
      |         FROM ck x JOIN ck y ON x.band = y.band AND x.key = y.key
      |                            AND x.doc_id < y.doc_id)
      |SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
      |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
      |ORDER BY id_a, id_b""".stripMargin,

    // banding + cap-lowest-id anchors + hamming losers + NOT IN — the
    // apply restated end to end
    "q_mm_dedup_phash_apply" -> s"""$PhashCtes,
      |$PngPhashCtes,
      |$JpegPhashCtes,
      |allm AS (SELECT * FROM all3 UNION ALL SELECT * FROM pall
      |         UNION ALL SELECT * FROM jall),
      |ck AS (SELECT doc_id, dhash, band,
      |              (dhash >> CAST(16 * band AS INT)) & 65535 AS key
      |       FROM allm CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b),
      |anc AS (SELECT band, key, doc_id, dhash FROM (
      |          SELECT band, key, doc_id, dhash,
      |                 row_number() OVER (PARTITION BY band, key
      |                                    ORDER BY doc_id) AS rk
      |          FROM ck) WHERE rk <= 64),
      |ls AS (SELECT DISTINCT y.doc_id AS loser
      |       FROM anc x JOIN ck y ON x.band = y.band AND x.key = y.key
      |                           AND x.doc_id < y.doc_id
      |       WHERE bit_count(xor(x.dhash, y.dhash)) <= 3)
      |SELECT doc_id, dhash FROM allm
      |WHERE doc_id NOT IN (SELECT loser FROM ls)
      |ORDER BY doc_id""".stripMargin,

    "q_mm_ahash" -> s"""$AhashCtes
      |SELECT doc_id, dhash FROM all3 ORDER BY doc_id""".stripMargin,

    // the q_mm_dedup_phash banding block verbatim over the audio hashes
    "q_mm_dedup_ahash" -> s"""$AhashCtes,
      |ck AS (SELECT doc_id, dhash, band,
      |              (dhash >> CAST(16 * band AS INT)) & 65535 AS key
      |       FROM all3 CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b),
      |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
      |                x.dhash AS ha, y.dhash AS hb
      |         FROM ck x JOIN ck y ON x.band = y.band AND x.key = y.key
      |                            AND x.doc_id < y.doc_id)
      |SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
      |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
      |ORDER BY id_a, id_b""".stripMargin,

    // the greedy longest-match walk replays over DISTINCT tokens (the
    // vocab literals are generated from the same map the expression
    // matches), sizes join back per doc, then the same pack fold
    "q_pack_bpe" -> s"""WITH RECURSIVE
        |vocab(g) AS (VALUES
        |${graft.llm.Bpe.vocabSqlValues}),
        |vl AS (SELECT g, len(g) AS l FROM vocab),
        |toks AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
        |         FROM documents),
        |walk AS (
        |  SELECT tok, 1 AS pos, 0 AS cnt FROM toks
        |  UNION ALL
        |  SELECT w.tok,
        |         w.pos + coalesce((SELECT max(v.l) FROM vl v
        |                           WHERE v.l <= len(w.tok) - w.pos + 1
        |                             AND substr(w.tok, w.pos, CAST(v.l AS INT)) = v.g), 1),
        |         w.cnt + 1
        |  FROM walk w WHERE w.pos <= len(w.tok)),
        |sub AS (SELECT tok, greatest(1, cnt) AS n_sub FROM walk
        |        WHERE pos = len(tok) + 1),
        |dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |       FROM documents),
        |dsz AS (SELECT dt.doc_id, CAST(sum(s.n_sub) AS BIGINT) AS sz
        |        FROM dt JOIN sub s ON s.tok = dt.tok GROUP BY 1),
        |t AS (
        |  SELECT doc_id % 8 AS shard, doc_id, sz,
        |         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
        |  FROM dsz),
        |r AS (
        |  SELECT shard, rn, doc_id, sz, CAST(sz AS BIGINT) AS acc,
        |         CAST(0 AS BIGINT) AS pack_id
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.shard, t.rn, t.doc_id, t.sz,
        |         CASE WHEN r.acc + t.sz > 256 THEN CAST(t.sz AS BIGINT)
        |              ELSE r.acc + t.sz END,
        |         CASE WHEN r.acc + t.sz > 256 THEN r.pack_id + 1
        |              ELSE r.pack_id END
        |  FROM r JOIN t ON t.shard = r.shard AND t.rn = r.rn + 1)
        |SELECT shard, doc_id, pack_id FROM r ORDER BY doc_id""".stripMargin)
}
