package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.forecast.ArTrainer
import graft.ml.TextRegression
import graft.multimodal.MultimodalOps
import Catalog.Entry

/** Trainer / ML / multimodal surfaces (SURVEY.md §2.11 X5/X8, A5, P10, J4,
  * north-star multimodal plumbing). Model-fitting queries are rows-only
  * checks (not SQL-expressible); the multimodal payload projection keeps a
  * DuckDB twin for the codec-independent columns.
  */
object PipelineQueries {

  /** Deterministic PNG archive (media_id, png bytes), written ONCE per
    * JVM (Scratch): a real pipeline decodes stored bytes, so the
    * image-entry timed paths are scan(binary) -> decode/resize -> stats,
    * not the per-row ENCODE of the fixture (ImageIO.write dominated the
    * first cut of both image entries). Shared by multimodal_image_stats
    * and multimodal_resize_stats.
    */
  private def pngArchive(s: org.apache.spark.sql.SparkSession,
                         dir: String): String = {
    import s.implicits._
    graft.sources.Scratch.materialize("png", dir) { path =>
      Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          (id, MultimodalOps.syntheticGrayPng(id))))
        .toDF("media_id", "png")
        .write.mode("overwrite").parquet(s"$path/media")
    } + "/media"
  }

  /** (media_id, ahash) over the PNG archive — the decoded-signature
    * frame the ahash entries share. Checkpointed: downstream self-joins
    * read it from both sides, and unlike the text-simhash case (narrow
    * codegen'd projection, cheaper to recompute) the upstream here is a
    * real ImageIO decode per row.
    */
  private def ahashFrame(s: org.apache.spark.sql.SparkSession,
                         dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    s.read.parquet(pngArchive(s, dir))
      .select(col("media_id"), col("png"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        val dec = new MultimodalOps.MediaDecoder
        rows.map { case (id, png) =>
          (id, dec.aHash64(png).getOrElse(
            throw new IllegalStateException(
              s"png decode failed for $id")))
        }
      }
      .toDF("media_id", "ahash")
      .localCheckpoint(eager = true)
  }

  def defs: Map[String, Entry] = Map(

    // X5 + A5 + A12 + K4: per-key ARIMA(p,d,q) trainer (Hannan–Rissanen
    // two-stage OLS) over the 30 s regularized series with last-30
    // holdout (arima.py:298-408, auto_arima order search -> holdout-MAE
    // grid over d/p/q). METRIC-ENVELOPE ORACLE (the tdigest rank-bound
    // trick): one deterministic synthetic AR(2) series per event_type
    // symbol (known generating process, md5-coin innovations — see
    // ArTrainer.syntheticAr2 for the construction + envelope derivation)
    // flows through the FULL trainFromEvents path (30 s resample grid +
    // ffill + typed trainer). The entry emits
    //  - qsum_test: the 1e-6-quantized integer sum of the 30 holdout
    //    values — DuckDB REGENERATES the whole series via a recursive
    //    CTE over the same md5 coin and double-op order (explicit
    //    ::DOUBLE casts: a bare 2.5 literal is DECIMAL(2,1) and would
    //    truncate the recursion state), pinning the data path
    //    (generation -> resample grid -> holdout split) bit-exactly;
    //  - fitted / mae_ok / beats_naive booleans: a real model came back
    //    (grid didn't degenerate), its holdout MAE sits inside the
    //    analytic 6·sigma envelope of the generating process, and it
    //    beats the persistence (carry-last-value) forecast — the three
    //    claims a trainer must deliver. (Exact ORDER recovery is not
    //    pinned: with a 30-point holdout the MAE differences between
    //    nested ARMA orders are below the innovation noise floor, so the
    //    grid's argmin order is not statistically identifiable — the
    //    envelope bounds are the honest invariants.)
    "x5_ar_trainer" -> Entry(
      (s, dir) => {
        import s.implicits._
        val (phi1, phi2, c0, sigma) = (0.5, -0.3, 2.0, 0.05)
        val series = Tables.events(s, dir)
          .select(col("event_type")).distinct().as[String]
          .flatMap { sym =>
            ArTrainer.syntheticAr2(sym, 200, phi1, phi2, c0, sigma).map {
              case (t, x) => (new java.sql.Timestamp(
                1700000000000L + t * 30000L), sym, x)
            }
          }
          .toDF("ts", "event_type", "value")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("ts").desc)
        val ranked = series.withColumn("_rk", row_number().over(w))
        val hold = ranked.filter(col("_rk") <= 30)
          .groupBy(col("event_type").as("symbol"))
          .agg(sum(round(col("value") * 1e6).cast("long")).as("qsum_test"))
        val lastTrain = ranked.filter(col("_rk") === 31)
          .select(col("event_type").as("symbol"), col("value").as("_last"))
        val naive = ranked.filter(col("_rk") <= 30)
          .select(col("event_type").as("symbol"), col("value"))
          .join(lastTrain, Seq("symbol"))
          .groupBy(col("symbol"))
          .agg(avg(abs(col("value") - col("_last"))).as("naive_mae"))
        ArTrainer.trainFromEvents(series, "ts", "event_type", "value", 30)
          .toDF()
          .join(hold, Seq("symbol"))
          .join(naive, Seq("symbol"))
          .select(col("symbol"), col("n_train"), col("n_test"),
            col("qsum_test"),
            (col("p") >= 1 && !isnan(col("mae"))).as("fitted"),
            (col("mae") <= sigma * 6).as("mae_ok"),
            (col("mae") <= col("naive_mae")).as("beats_naive"))
      },
      Some("""
        WITH RECURSIVE syms AS
          (SELECT DISTINCT event_type AS sym FROM events),
        ser(sym, t, x, xp) AS (
          SELECT sym, 0,
                 2.0::DOUBLE + 0.5::DOUBLE * 2.5::DOUBLE
                   + (-0.3::DOUBLE) * 2.5::DOUBLE +
                   ((CAST(('0x' || substr(md5(sym || '|' || '0'), 1, 8))
                       ::UBIGINT % 2001 AS BIGINT) - 1000)
                    / 1000.0::DOUBLE) * 0.05::DOUBLE,
                 2.5::DOUBLE
          FROM syms
          UNION ALL
          SELECT sym, t + 1,
                 2.0::DOUBLE + 0.5::DOUBLE * x + (-0.3::DOUBLE) * xp +
                   ((CAST(('0x' || substr(md5(sym || '|' ||
                       CAST(t + 1 AS VARCHAR)), 1, 8))
                       ::UBIGINT % 2001 AS BIGINT) - 1000)
                    / 1000.0::DOUBLE) * 0.05::DOUBLE,
                 x
          FROM ser WHERE t < 199),
        -- sum(BIGINT) widens to HUGEINT (pandas float) — cast back
        q AS (SELECT sym, CAST(sum(CAST(round(x * 1000000) AS BIGINT))
                       AS BIGINT) AS qsum_test
              FROM ser WHERE t >= 170 GROUP BY 1)
        SELECT sym AS symbol, 170 AS n_train, 30 AS n_test, qsum_test,
               TRUE AS fitted, TRUE AS mae_ok, TRUE AS beats_naive
        FROM q""")),

    // X8: TF-IDF (1+2-gram) + Ridge with time-ordered split
    // (Milestone4 cell 15). METRIC-ENVELOPE ORACLE: raw RMSE floats are
    // L-BFGS outputs no SQL engine can replay, but the claims a user
    // actually relies on are replayable as booleans — the model fits the
    // train slice and GENERALIZES to the held-out future slice better
    // than the predict-the-train-mean baseline (n_chars is a strong
    // function of the text, so a working TF-IDF+Ridge must clear this
    // bar; a broken pipeline — NaN solve, empty features, leaked split —
    // fails it). Exact numeric assertions live in TrainerMlSpec.
    "x8_tfidf_ridge" -> Entry(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val t = TextRegression.fitEval(docs, "n_chars", "doc_id")
        import s.implicits._
        Seq((docs.count(), t.trainRmse < t.baselineRmse,
            t.testRmse < t.baselineRmse,
            !t.trainRmse.isNaN && !t.testRmse.isNaN && t.baselineRmse > 0))
          .toDF("n_docs", "model_fits_train", "model_generalizes",
            "rmse_finite")
      },
      Some("""
        SELECT count(*) AS n_docs, TRUE AS model_fits_train,
               TRUE AS model_generalizes, TRUE AS rmse_finite
        FROM documents""")),

    // Milestone4 cell 14: permutation importance of the numeric Ridge —
    // per-feature test-RMSE rise under deterministic salted shuffles.
    // METRIC-ENVELOPE ORACLE: the raw RMSEs are solver floats, but the
    // semantics a user relies on are exact booleans — permuting a REAL
    // feature (n_words / n_vowels, both strong functions of n_chars)
    // must blow the test error past the base RMSE itself, permuting the
    // pure-noise feature must move it by under 20% of base (measured
    // margins are ~60x on both sides), and the importance ranking is
    // n_words > n_vowels > id_noise with order-of-magnitude gaps. Raw
    // numeric behavior stays pinned in TrainerMlSpec.
    "x_perm_importance" -> Entry(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .withColumn("n_words", size(split(col("text"), " ")))
          .withColumn("n_vowels",
            length(regexp_replace(col("text"), "[^aeiou]", "")))
          .withColumn("id_noise", pmod(col("doc_id"), lit(7)))
        val imp = TextRegression.permutationImportance(docs,
          Seq("n_words", "n_vowels", "id_noise"), "n_chars", "doc_id")
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("importance").desc)
        imp.withColumn("imp_rank", row_number().over(w))
          .select(col("feature"), col("imp_rank"),
            (col("base_rmse") > 0).as("base_finite"),
            (col("importance") > col("base_rmse")).as("is_signal"),
            (abs(col("importance")) <= lit(0.2) * col("base_rmse"))
              .as("is_inert"))
      },
      Some("""
        SELECT * FROM (VALUES
          ('n_words', 1, TRUE, TRUE, FALSE),
          ('n_vowels', 2, TRUE, TRUE, FALSE),
          ('id_noise', 3, TRUE, FALSE, TRUE))
          AS t(feature, imp_rank, base_finite, is_signal, is_inert)""")),

    // P10: regex content filter (publisher-side Japanese-char drop,
    // twitter/stream_simulator_continuous.py:31-36 — same shape, corpus
    // marker word here).
    "p10_regex_filter" -> Entry(
      (s, dir) => Tables.documents(s, dir)
        .filter(!col("text").rlike("\\bdup\\b") && col("n_chars") >= 100)
        .select(col("doc_id"), col("lang"), col("source")),
      Some("""
        SELECT doc_id, lang, source FROM documents
        WHERE NOT regexp_matches(text, '\bdup\b') AND n_chars >= 100""")),

    // J4 + F16: doc-aggregation join — per-bin blobs left-joined onto
    // metric bins, missing filled with '' (Milestone4 cell 15).
    "j4_docagg_join" -> Entry(
      (s, dir) => {
        val stats = Tables.documents(s, dir).groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"))
        val blobs = Tables.documents(s, dir)
          .filter(col("source") === "src0")
          .groupBy(col("lang"))
          .agg(concat_ws(" ", array_sort(collect_list(col("text"))))
            .as("doc_blob"))
        stats.join(blobs, Seq("lang"), "left").na.fill("", Seq("doc_blob"))
      },
      Some("""
        SELECT s.lang, n_docs, coalesce(doc_blob, '') AS doc_blob
        FROM (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1) s
        LEFT JOIN (SELECT lang, string_agg(text, ' ' ORDER BY text)
                     AS doc_blob
                   FROM documents WHERE source = 'src0' GROUP BY 1) b
        ON s.lang = b.lang""")),

    // A5: collect_list-of-structs training fan-in (arima.py:482-484),
    // canonicalized as "epoch:value" strings in TIME order — the order
    // the reference's trainer consumes the series in. Points are
    // collected as (epoch, point) structs and sorted on the NUMERIC
    // epoch (with the rendered point as tie-break), so the order is
    // chronological for any epoch, not just eras where lexicographic
    // string order happens to coincide (pre-2001 / post-2286 epochs
    // have different digit counts).
    "a5_collect_series" -> Entry(
      (s, dir) => {
        val e = unix_millis(col("ts"))
        val pt = concat(e, lit(":"), col("value").cast("decimal(12,2)"))
        Tables.events(s, dir)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_points"),
            concat_ws(";", transform(array_sort(collect_list(
              when(pt.isNotNull, struct(e.as("e"), pt.as("pt"))))),
              x => x.getField("pt"))).as("series"))
      },
      Some("""
        SELECT event_type, count(*) AS n_points,
               string_agg(
                 CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS VARCHAR) || ':' ||
                   CAST(TRY_CAST(value AS DECIMAL(12,2)) AS VARCHAR), ';'
                 ORDER BY epoch_ms(CAST(ts AS TIMESTAMP)),
                   CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS VARCHAR) || ':' ||
                     CAST(TRY_CAST(value AS DECIMAL(12,2)) AS VARCHAR)) AS series
        FROM events GROUP BY 1"""),
      scaleTwin = Some("a5_collect_series_capped")),

    // A5's bounded-shuffle twin — the 100 TB posture for the training
    // fan-in: only the 20 chronologically-first points per key survive,
    // ranked by the NUMERIC epoch (graft.functions.MinKAgg.minKBy —
    // bigint key, rendered point as payload and tie-break; no
    // zero-padded encoding of time into the string, so any epoch era
    // orders correctly), enforced INSIDE the aggregation buffer so
    // map-side partials carry at most 20 points per (key, partition)
    // through the shuffle and state never grows with series length.
    // n_points still counts the FULL series — one scan computes both.
    // The uncapped entry above keeps the reference's whole-series
    // semantics (arima.py:482-484); this is what you'd ship when a
    // key's series no longer fits one row.
    "a5_collect_series_capped" -> Entry(
      (s, dir) => Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_points"),
          concat_ws(";", graft.functions.MinKAgg.minKBy(
            unix_millis(col("ts")),
            concat(unix_millis(col("ts")), lit(":"),
              col("value").cast("decimal(12,2)")), 20))
            .as("series_head")),
      // oracle is one grouped pass (FILTER instead of a head-side
      // join): a join back on the group key would silently drop a
      // NULL-keyed group (USING equality rejects NULL = NULL), and the
      // rank orders null points last EXPLICITLY rather than leaning on
      // the engine's default_null_order
      Some("""
        WITH p AS (
          SELECT event_type, epoch_ms(CAST(ts AS TIMESTAMP)) AS e,
                 CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS VARCHAR) || ':' ||
                   CAST(TRY_CAST(value AS DECIMAL(12,2)) AS VARCHAR) AS pt
          FROM events),
        t AS (SELECT event_type, pt,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY (pt IS NULL), e, pt) AS rn
              FROM p)
        SELECT event_type, count(*) AS n_points,
               coalesce(string_agg(pt, ';' ORDER BY rn)
                 FILTER (WHERE rn <= 20 AND pt IS NOT NULL), '')
                 AS series_head
        FROM t GROUP BY 1""")),

    // The capped fan-in with a TYPED head: same bounded min_k_by
    // aggregate, but the payload is a struct<epoch bigint, v double>,
    // so the series head lands as array<struct<...>> the trainer can
    // consume directly — no "epoch:value" re-parse (the r15 verdict's
    // struct-payload item). Ranking is numeric epoch, then the
    // payload's field-wise order: epoch again, then the double value
    // (NUMERIC — the string twin tie-breaks on the rendered point, so
    // the two heads can differ on epoch ties with multi-digit values);
    // points with a null ts or null value are skipped like the string
    // twin (the when() nulls the whole payload). For the driver gate
    // the typed head is rendered to a scalar "epoch:value" string AFTER
    // the aggregation — the r16 driver run showed array<struct> output
    // columns break its pandas row-sort (unhashable ndarray cells), so
    // catalog outputs stay scalar; the array<struct> shape itself is
    // the ops/spec-level surface (CoreOpsSpec struct-payload specs +
    // the prefix-twin invariant below). Overflow alignment (all three
    // a5 entries): a |v| >= 10^10 nulls the non-ANSI decimal(12,2)
    // render, and concat_ws/string_agg then drop that point from the
    // rendered series ON BOTH SIDES — the oracles render through
    // DuckDB's TRY_CAST (null on overflow, like Spark's non-ANSI cast)
    // rather than CAST (which errors), so an out-of-range value keeps
    // its rank/count but disappears from the string identically.
    "a5_collect_series_capped_typed" -> Entry(
      (s, dir) => Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_points"),
          graft.functions.MinKAgg.minKBy(
            unix_millis(col("ts")),
            when(col("value").isNotNull,
              struct(unix_millis(col("ts")).as("epoch"),
                col("value").as("v"))), 20)
            .as("typed_head"))
        .select(col("event_type"), col("n_points"),
          concat_ws(";", transform(col("typed_head"),
            x => concat(x.getField("epoch"), lit(":"),
              x.getField("v").cast("decimal(12,2)"))))
            .as("series_head")),
      Some("""
        WITH p AS (
          SELECT event_type, epoch_ms(CAST(ts AS TIMESTAMP)) AS e,
                 value AS v
          FROM events),
        t AS (SELECT event_type, e, v,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY (e IS NULL OR v IS NULL), e, v) AS rn
              FROM p)
        SELECT event_type, count(*) AS n_points,
               coalesce(string_agg(
                   CAST(e AS VARCHAR) || ':' ||
                     CAST(TRY_CAST(v AS DECIMAL(12,2)) AS VARCHAR),
                   ';' ORDER BY rn)
                 FILTER (WHERE rn <= 20 AND e IS NOT NULL
                         AND v IS NOT NULL), '') AS series_head
        FROM t GROUP BY 1""")),

    // North-star multimodal: binary payload projection — the
    // codec-independent columns are oracle-checked; decode-stub features
    // are covered by the rows-only query below + unit specs.
    "multimodal_payload" -> Entry(
      (s, dir) => MultimodalOps
        .mediaFromDocuments(Tables.documents(s, dir)).toDF()
        .select(col("media_id"), col("kind"),
          octet_length(col("payload")).cast("long").as("byte_len"),
          md5(col("payload")).as("payload_md5")),
      Some("""
        SELECT doc_id AS media_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS kind,
               strlen(text) AS byte_len,
               md5(text) AS payload_md5
        FROM documents""")),

    // North-star multimodal: frame sampling plumbing — n evenly-spaced
    // byte windows per payload (rows-only; keyframe seeking is the
    // codec's job, the slicing/explode shape is the engine's).
    "multimodal_frames" -> Entry(
      (s, dir) => MultimodalOps.sampleFrames(
          MultimodalOps.mediaFromDocuments(Tables.documents(s, dir)).toDF(),
          n = 4)
        .select(col("media_id"), col("frame_no"),
          octet_length(col("frame_bytes")).cast("long").as("frame_len"),
          md5(col("frame_bytes")).as("frame_md5")),
      // Oracle relies on documents.text being pure ASCII (verified at all
      // three sfs: octet_length == length for every row), so VARCHAR
      // substring reproduces the byte slicing and md5(VARCHAR) hashes the
      // same bytes. trunc() mirrors Spark's truncating double->int cast
      // (DuckDB's plain CAST rounds).
      Some("""
        WITH m AS (SELECT doc_id AS media_id, text, length(text) AS len
                   FROM documents),
        f AS (SELECT media_id, CAST(i AS INTEGER) AS frame_no,
                     substring(text, CAST(trunc(CAST(i AS INTEGER) *
                       greatest((len - 64) / 4.0, 1.0) + 1) AS INTEGER),
                       64) AS fr
              FROM m, UNNEST(generate_series(0, 3)) AS t(i))
        SELECT media_id, frame_no, CAST(length(fr) AS BIGINT) AS frame_len,
               md5(fr) AS frame_md5
        FROM f WHERE length(fr) > 0""")),

    // North-star multimodal: per-partition stub decode + resize plan +
    // frame sampling (real Spark plumbing, fake codec — see
    // MultimodalOps.StubDecoder).
    "multimodal_decode_stub" -> Entry(
      (s, dir) => {
        val media = MultimodalOps.mediaFromDocuments(
          Tables.documents(s, dir))
        val features = MultimodalOps.extractFeatures(media).toDF()
        MultimodalOps.resizePlan(features, maxSide = 32)
          .select(col("media_id"), col("kind"), col("byte_len"),
            col("width"), col("height"), col("n_frames"),
            round(col("mean_intensity"), 4).as("mean_intensity"),
            col("out_width"), col("out_height"))
      },
      // The stub decode is deterministic byte arithmetic, and the payload
      // is the UTF-8 of ASCII-only text — so every feature is replayable
      // in SQL: head/last byte via ascii(), byte sum via per-char list
      // sum (exact integer sums), resize via the same ceil/least algebra.
      Some("""
        WITH m AS (
          SELECT doc_id AS media_id,
                 CASE WHEN doc_id % 3 = 0 THEN 'image'
                      WHEN doc_id % 3 = 1 THEN 'audio'
                      ELSE 'video' END AS kind,
                 text, length(text) AS len
          FROM documents),
        feat AS (
          SELECT media_id, kind, CAST(len AS BIGINT) AS byte_len,
                 CASE WHEN len = 0 THEN 0 ELSE CAST(16 +
                   (ascii(substring(text, 1, 1)) % 64) AS INTEGER) END
                   AS width,
                 CASE WHEN len = 0 THEN 0 ELSE CAST(16 +
                   (ascii(substring(text, len, 1)) % 64) AS INTEGER) END
                   AS height,
                 CASE WHEN len = 0 THEN 0
                      ELSE CAST(1 + len % 8 AS INTEGER) END AS n_frames,
                 CASE WHEN len = 0 THEN 0.0
                      ELSE round(list_sum(list_transform(
                        string_split(text, ''), c -> ascii(c)))
                        / CAST(len AS DOUBLE), 4) END AS mean_intensity
          FROM m)
        SELECT media_id, kind, byte_len, width, height, n_frames,
               mean_intensity,
               CAST(ceil(width * least(1.0,
                 32 / CAST(greatest(greatest(width, height), 1) AS DOUBLE)))
                 AS INTEGER) AS out_width,
               CAST(ceil(height * least(1.0,
                 32 / CAST(greatest(greatest(width, height), 1) AS DOUBLE)))
                 AS INTEGER) AS out_height
        FROM feat""")),

    // North-star multimodal, REAL codec path: encode a deterministic
    // grayscale PNG per doc (javax.imageio — ships with the JDK), decode
    // it back with the SAME MediaDecoder the feature extractor uses, and
    // emit exact integer pixel stats. PNG is lossless, so the oracle
    // replays the pixel GENERATOR in closed form and hash-compares —
    // end-to-end proof the codec path decodes real image bytes, with no
    // codec on the oracle side. Stats are exact int sums (no ratio
    // rounding, per the round-on-ratio oracle gotcha).
    "multimodal_image_stats" -> Entry(
      (s, dir) => {
        import s.implicits._
        s.read.parquet(pngArchive(s, dir))
          .select(col("media_id"), col("png"))
          .as[(Long, Array[Byte])]
          .mapPartitions { rows =>
            val dec = new MultimodalOps.MediaDecoder
            rows.map { case (id, png) =>
              val (w, h, sum) = dec.grayStats(png).getOrElse(
                throw new IllegalStateException(s"png decode failed for $id"))
              (id, w, h, sum, w.toLong * h)
            }
          }
          .toDF("media_id", "width", "height", "intensity_sum", "n_px")
      },
      Some("""
        WITH px AS (
          SELECT doc_id, 16 + doc_id % 16 AS w, 16 + doc_id % 8 AS h
          FROM documents),
        grid AS (
          SELECT doc_id, w, h, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y
          FROM px, UNNEST(generate_series(0, w - 1)) AS tx(x),
               UNNEST(generate_series(0, h - 1)) AS ty(y))
        SELECT doc_id AS media_id, CAST(w AS INTEGER) AS width,
               CAST(h AS INTEGER) AS height,
               CAST(sum((doc_id * 31 + x * 7 + y * 13) % 256) AS BIGINT)
                 AS intensity_sum,
               CAST(w * h AS BIGINT) AS n_px
        FROM grid GROUP BY doc_id, w, h""")),

    // Perceptual image dedup — CATALOG DEFAULT = the dedup-APPLY
    // posture (r13, per the r12 verdict; same swap ts_anomaly_zscore
    // made in r12): decode each PNG for real (ImageIO raster),
    // fingerprint with the 64-bit average-hash (8x8 NN downsample,
    // above-mean bits — integer-exact threshold 64*g > sum), then
    // collapse exact-hash groups FIRST (groupBy on the 64-bit ahash,
    // O(n), keep min media_id + copy count) and run the hamming-band
    // near-dup prune among the REPRESENTATIVES only — a set bounded by
    // distinct perceptual content, not corpus size (<= 256 here at
    // every SF). One row per representative: is_kept, the lowest-id
    // near-duplicate representative it folds into (semanticDedup's
    // keep-lowest rule), and the strongest (minimum) hamming distance.
    // The pair-LIST form (every qualifying near-dup pair — Omega(pairs),
    // quadratic in clique size on image corpora that repeat content;
    // SCALE.md measured exponent 1.22, output-bound) is demoted to the
    // probe row below (multimodal_ahash_dups_probe).
    "multimodal_ahash_dedup" -> Entry(
      (s, dir) => {
        val reps = ahashFrame(s, dir).groupBy(col("ahash"))
          .agg(min(col("media_id")).as("media_id"),
            count(lit(1)).as("n_copies"))
        val pairs = graft.ops.DedupOps.hammingNearDups(
          reps.select(col("media_id"), col("ahash")), "media_id",
          "ahash", maxHamming = 8)
        val dropped = pairs.groupBy(col("id_b").as("media_id"))
          .agg(min(col("id_a")).as("dup_of"),
            min(col("hamming")).as("min_hamming"))
        reps.join(dropped, Seq("media_id"), "left")
          .select(col("media_id"), col("ahash"), col("n_copies"),
            col("dup_of").isNull.as("is_kept"), col("dup_of"),
            col("min_hamming"))
      },
      Some("""
        WITH px AS (SELECT doc_id, 16 + doc_id % 16 AS w,
                           16 + doc_id % 8 AS h
                    FROM documents),
        samp AS (
          SELECT doc_id, CAST(j*8+i AS INTEGER) AS b,
                 (doc_id*31 + ((i*w)//8)*7 + ((j*h)//8)*13) % 256 AS g
          FROM px, UNNEST(generate_series(0,7)) AS ti(i),
               UNNEST(generate_series(0,7)) AS tj(j)),
        tot AS (SELECT doc_id, sum(g) AS s FROM samp GROUP BY 1),
        sig AS (
          SELECT samp.doc_id,
                 CAST(sum(CASE WHEN 64*g > s THEN
                       CASE WHEN b = 63
                            THEN CAST(-9223372036854775808 AS BIGINT)
                            ELSE (CAST(1 AS BIGINT) << b) END
                     ELSE 0 END) AS BIGINT) AS ahash
          FROM samp JOIN tot USING (doc_id) GROUP BY 1),
        reps AS (SELECT min(doc_id) AS media_id, ahash,
                        count(*) AS n_copies
                 FROM sig GROUP BY ahash),
        banded AS (
          SELECT media_id, ahash, CAST(k AS INTEGER) AS band,
                 (ahash >> (CAST(k AS INTEGER) * 16)) & 65535 AS band_val
          FROM reps, UNNEST([0,1,2,3]) AS t(k)),
        pairs AS (
          SELECT a.media_id AS id_a, b.media_id AS id_b,
                 CAST(min(bit_count(xor(a.ahash, b.ahash))) AS INTEGER)
                   AS hamming
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.band_val = b.band_val
           AND a.media_id < b.media_id
          GROUP BY 1, 2
          HAVING min(bit_count(xor(a.ahash, b.ahash))) <= 8),
        dropped AS (SELECT id_b AS media_id, min(id_a) AS dup_of,
                           min(hamming) AS min_hamming
                    FROM pairs GROUP BY 1)
        SELECT r.media_id, r.ahash, r.n_copies,
               d.dup_of IS NULL AS is_kept, d.dup_of, d.min_hamming
        FROM reps r LEFT JOIN dropped d USING (media_id)""")),

    // PROBE row — pair-list ground truth of multimodal_ahash_dedup
    // above (was the default name multimodal_ahash_dups before r13):
    // emits EVERY qualifying near-dup pair via the same band-of-bits
    // LSH the text SimHash path uses (DedupOps.hammingNearDups — one
    // generic kernel for any 64-bit hamming signature). The archive
    // holds exact duplicate images at doc_id stride 256 (the 31*stride
    // pattern offset wraps to 0), so hamming-0 pairs are guaranteed
    // present; the oracle replays pixel generator -> NN grid ->
    // threshold -> banding in closed form. Output is
    // Omega(qualifying pairs) BY CONTRACT — output-bound at scale
    // (SCALE.md exp 1.22), which is exactly why the apply posture owns
    // the default name.
    "multimodal_ahash_dups_probe" -> Entry(
      (s, dir) => graft.ops.DedupOps.hammingNearDups(
        ahashFrame(s, dir), "media_id", "ahash", maxHamming = 8),
      Some("""
        WITH px AS (SELECT doc_id, 16 + doc_id % 16 AS w,
                           16 + doc_id % 8 AS h
                    FROM documents),
        samp AS (
          SELECT doc_id, CAST(j*8+i AS INTEGER) AS b,
                 (doc_id*31 + ((i*w)//8)*7 + ((j*h)//8)*13) % 256 AS g
          FROM px, UNNEST(generate_series(0,7)) AS ti(i),
               UNNEST(generate_series(0,7)) AS tj(j)),
        tot AS (SELECT doc_id, sum(g) AS s FROM samp GROUP BY 1),
        sig AS (
          -- sum(BIGINT) widens to HUGEINT; cast back or the banding and
          -- bit_count(xor) below run in 128-bit where mixed-sign pairs
          -- pick up 64 phantom sign-extension bits
          SELECT samp.doc_id,
                 CAST(sum(CASE WHEN 64*g > s THEN
                       CASE WHEN b = 63
                            THEN CAST(-9223372036854775808 AS BIGINT)
                            ELSE (CAST(1 AS BIGINT) << b) END
                     ELSE 0 END) AS BIGINT) AS ahash
          FROM samp JOIN tot USING (doc_id) GROUP BY 1),
        banded AS (
          SELECT doc_id, ahash, CAST(k AS INTEGER) AS band,
                 (ahash >> (CAST(k AS INTEGER) * 16)) & 65535 AS band_val
          FROM sig, UNNEST([0,1,2,3]) AS t(k))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(min(bit_count(xor(a.ahash, b.ahash))) AS INTEGER)
                 AS hamming
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING min(bit_count(xor(a.ahash, b.ahash))) <= 8"""),
      probe = true),

    // Audio twin of multimodal_image_stats: deterministic 16-bit mono
    // PCM wavs per doc, parsed back with the SAME RIFF/PCM decoder the
    // feature extractor uses; exact |sample| sums, so the oracle replays
    // the sample generator in closed form — codec-free end-to-end proof
    // of the real audio decode path.
    "multimodal_audio_stats" -> Entry(
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir).select(col("doc_id")).as[Long]
          .mapPartitions { ids =>
            val dec = new MultimodalOps.MediaDecoder
            ids.map { id =>
              val wav = MultimodalOps.syntheticPcmWav(id)
              val (rate, channels, frames, absSum) =
                dec.pcmStats(wav).getOrElse(
                  throw new IllegalStateException(s"wav parse failed for $id"))
              (id, rate, channels, frames, absSum)
            }
          }
          .toDF("media_id", "sample_rate", "channels", "n_frames", "abs_sum")
      },
      Some("""
        WITH n AS (
          SELECT doc_id, 64 + doc_id % 64 AS n FROM documents),
        smp AS (
          SELECT doc_id, n, CAST(i AS BIGINT) AS i
          FROM n, UNNEST(generate_series(0, n - 1)) AS t(i))
        SELECT doc_id AS media_id, CAST(8000 AS INTEGER) AS sample_rate,
               CAST(1 AS INTEGER) AS channels, CAST(n AS INTEGER) AS n_frames,
               CAST(sum(abs((doc_id * 7919 + i * 104729) % 65536 - 32768))
                 AS BIGINT) AS abs_sum
        FROM smp GROUP BY doc_id, n""")),

    // REAL resize: synthetic PNG -> nearest-neighbor downscale to max
    // side 16 (integer-exact output dims and source sampling) -> decode
    // the RESIZED image back. The oracle replays generator∘NN-sampling
    // in closed form — the whole encode/resize/re-encode/decode chain is
    // hash-checked without a codec on the oracle side.
    "multimodal_resize_stats" -> Entry(
      (s, dir) => {
        import s.implicits._
        s.read.parquet(pngArchive(s, dir))
          .select(col("media_id"), col("png"))
          .as[(Long, Array[Byte])]
          .mapPartitions { rows =>
            val dec = new MultimodalOps.MediaDecoder
            rows.map { case (id, png) =>
              val resized = MultimodalOps.resizeImageNN(png, 16).getOrElse(
                throw new IllegalStateException(s"resize failed for $id"))
              val (w, h, sum) = dec.grayStats(resized).getOrElse(
                throw new IllegalStateException(s"decode failed for $id"))
              (id, w, h, sum, w.toLong * h)
            }
          }
          .toDF("media_id", "width", "height", "intensity_sum", "n_px")
      },
      Some("""
        WITH px AS (
          SELECT doc_id, 16 + doc_id % 16 AS w, 16 + doc_id % 8 AS h
          FROM documents),
        dim AS (SELECT doc_id, w, h, greatest(w, h) AS m FROM px),
        o AS (SELECT doc_id, w, h,
                     CASE WHEN m <= 16 THEN w
                          ELSE (w * 16 + m - 1) // m END AS ow,
                     CASE WHEN m <= 16 THEN h
                          ELSE (h * 16 + m - 1) // m END AS oh
              FROM dim),
        grid AS (
          SELECT doc_id, w, h, ow, oh,
                 CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y
          FROM o, UNNEST(generate_series(0, ow - 1)) AS tx(x),
               UNNEST(generate_series(0, oh - 1)) AS ty(y))
        SELECT doc_id AS media_id, CAST(ow AS INTEGER) AS width,
               CAST(oh AS INTEGER) AS height,
               CAST(sum((doc_id * 31 + ((x * w) // ow) * 7 +
                         ((y * h) // oh) * 13) % 256) AS BIGINT)
                 AS intensity_sum,
               CAST(ow * oh AS BIGINT) AS n_px
        FROM grid GROUP BY doc_id, ow, oh"""))
  )
}
