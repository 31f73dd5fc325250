package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.multimodal.BinaryOps.{pixelChecksum, sampleChecksum}

/** Round-5 corpus-curation additions. Everything here follows the repo's
  * exactness discipline — ratios in integer basis points via integral
  * DIV (never a rounded double), counts BIGINT on both sides — and the
  * at-scale plan shapes: per-row projections, vocab-collapsed
  * aggregates, posting joins, per-key windows. Reference framing: these
  * extend the document-quality gates of the reference pipeline
  * (document_spider.py:327-381) toward the signals a training-corpus
  * curation run needs.
  */
object CurateQ {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Duplicate-bigram fraction (the Gopher repetition family, n=2):
    // 1 − distinct/total bigrams, in exact basis points. NO explode and
    // no shuffle — total bigrams is size(toks)−1 and distinct bigrams is
    // the codegen'd ShinglesExpr's array length, so the whole signal is
    // one per-row projection over the scan (the cheapest possible shape
    // at 100 TB: embarrassingly parallel, nothing moves).
    "q131_dup_bigram" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), toks(col("text")).as("tk"))
        .select(col("doc_id"),
          (size(col("tk")) - 1).cast("long").as("n_bigrams"),
          size(graft.functions.ShinglesExpr.shingles(col("tk"), 2))
            .cast("long").as("n_distinct"))
        .filter(col("n_bigrams") >= 1)
        .select(col("doc_id"), col("n_bigrams"),
          ldiv((col("n_bigrams") - col("n_distinct")) * lit(10000L),
            col("n_bigrams")).as("dup_bp"))
        .orderBy("doc_id")
    }),

    // Hapax-legomenon share per source: the fraction of a source's
    // vocabulary that occurs exactly once — the classic lexical-richness
    // / noise signal (OCR garbage and boilerplate skew it in opposite
    // directions). The corpus collapses to (source, word) partials
    // map-side; only vocab-sized rows shuffle, then a per-source rollup
    // of a handful of rows.
    "q132_hapax_share" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"), explode(toks(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(count(lit(1)).as("vocab"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"))
        .select(col("source"), col("vocab"), col("hapax"),
          ldiv(col("hapax") * lit(10000L), col("vocab")).as("hapax_bp"))
        .orderBy("source")
    }),

    // Near-dup cluster size histogram: the dedup run's report card (how
    // much mass sits in 2-doc mirrors vs 50-doc boilerplate farms
    // decides the dedup strategy). Reuses the session-shared exact-
    // Jaccard edge set (one computation serves q56/q72/q86/q112 and
    // this); after the labels, two vocabulary-sized aggregates.
    "q133_cluster_size_hist" -> ((s, dir) => {
      graft.ops.DedupOps.connectedComponents(ScaleQ.dedupEdges(s, dir))
        .groupBy("cluster").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
        .orderBy("sz")
    }),

    // Per-user median inter-event gap (exact lower-median in integer
    // MICROseconds — no percentile interpolation, no doubles): the
    // engagement-cadence signal behind session-timeout tuning. Both
    // windows partition by user_id, so the plan pays ONE hash exchange
    // and parallelizes across users; no global ordering anywhere.
    "q134_gap_median" -> ((s, dir) => {
      val wLag = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gaps = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(wLag))
        .filter(col("prev_us").isNotNull)
        .select(col("user_id"),
          (unix_micros(col("ts")) - col("prev_us")).as("gap_us"))
      val wRank = Window.partitionBy("user_id").orderBy("gap_us")
      val wAll = Window.partitionBy("user_id")
      gaps
        .withColumn("rn", row_number().over(wRank))
        .withColumn("n", count(lit(1)).over(wAll))
        // the ((n+1) DIV 2)-th smallest gap: deterministic even under
        // gap ties (the selected VALUE is the gap itself)
        .filter(col("rn") === ldiv(col("n") + 1, lit(2L)))
        .select(col("user_id"), col("n").as("n_gaps"),
          col("gap_us").as("median_gap_us"))
        .orderBy("user_id")
    }),

    // Audio windowed-energy profile through the REAL multimodal
    // plumbing: the documents' bytes stand in for PCM, BinaryOps
    // .windowEnergy runs the 1→8 flatMap fan-out a real frame-energy
    // extractor uses, and Σ sample² per window is exact integer
    // arithmetic — so the whole pipeline (binary column → typed Dataset
    // → flatMap → sort) is driver-hash-checkable, like q105's
    // resize/frame path.
    "q136_audio_energy" -> ((s, dir) => {
      val media = t(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("kind"),
        col("text").cast("binary").as("content"))
      graft.multimodal.BinaryOps.windowEnergy(media, nWindows = 8)
        .toDF()
        .orderBy("media_id", "window_idx")
    }),

    // ViT-style patch extraction through the same multimodal plumbing
    // as q136/q105: image-kind blobs flatMap into fixed 32-byte patches
    // (last patch short — the zero-pad position), each with Σ byte and
    // a within-patch position-weighted checksum, all exact integers.
    // The checksum makes the gate order-sensitive: a re-strided or
    // transposed patch layout produces the right sums but the wrong
    // hash. At 100 TB this is the embedding-stage feed shape: per-row
    // fan-out bounded by blob size, no shuffle until the consumer.
    "q191_image_patchify" -> ((s, dir) => {
      // image rows pass a REAL ImageIO roundtrip first (PNG/BMP,
      // 1×len gray so pixels == source bytes): the patch grid below is
      // computed over DECODED pixels, and a codec defect breaks the
      // position-weighted hash
      val media = graft.multimodal.BinaryOps.withImageRoundtrip(
        graft.ops.Partitioning.ensureParallel(
          t(s, dir, "documents").select(
            col("doc_id").as("media_id"),
            when(col("doc_id") % 3 === 0, "image")
              .when(col("doc_id") % 3 === 1, "audio")
              .otherwise("video").as("kind"),
            col("text").cast("binary").as("content"))))
      graft.multimodal.BinaryOps.patchify(media, patchBytes = 32)
        .toDF()
        .orderBy("media_id", "patch_idx")
    }),

    // The image DECODER itself under the driver hash: each image-kind
    // doc is encoded executor-side as a real PNG (even ids) or BMP
    // (odd) — actual codec bytes in the binary column — then
    // ImageCodec.decodeGray recovers the pixel array and the output
    // reports its geometry plus exact integer pixel stats. The oracle
    // reconstructs everything from the text (1×len gray ⇒ pixel k ==
    // ord(char k)), so palette mishandling, sample-extraction or
    // stride errors in the decoder all surface as hash mismatches.
    // fmt rides along so a codec misroute can't hide. Per-row executor
    // work, no shuffle — the 100 TB envelope of the other codecs.
    "q203_image_decode" -> ((s, dir) => {
      import s.implicits._
      docText(s, dir, col("doc_id") % 3 === 0 && length(col("text")) > 0)
        .map { case (id, text) =>
          val bytes = text.getBytes("ISO-8859-1")
          val fmt = if (id % 2 == 0) "png" else "bmp"
          val enc = graft.multimodal.ImageCodec.encodeGray(
            bytes.length, 1, bytes, fmt)
          val (w, h, pix) =
            graft.multimodal.ImageCodec.decodeGray(enc)
          val (sum, chk) = pixelChecksum(pix)
          (id, fmt, w.toLong, h.toLong, sum, chk)
        }
        .toDF("doc_id", "fmt", "width", "height", "pix_sum", "pos_checksum")
        .orderBy("doc_id")
    }),

    // The audio DECODER under the driver hash — q203's pattern for the
    // audio half of the seam: each audio-kind doc becomes real PCM16
    // WAV bytes (samples s_k = byte_k·257 − 32768 spans the full
    // 16-bit range losslessly), WavCodec chunk-walks the RIFF back,
    // and the output reports exact integer amplitude stats. The oracle
    // reconstructs every sample from the text, so an endianness flip,
    // a header misparse or an off-by-one in the data chunk shifts a
    // sample and breaks the hash. Per-row executor work, no shuffle.
    "q217_wav_decode" -> ((s, dir) => {
      import s.implicits._
      docText(s, dir, col("doc_id") % 3 === 1 && length(col("text")) > 0)
        .map { case (id, text) =>
          val src = text.getBytes("ISO-8859-1")
          val samples = new Array[Short](src.length)
          var i = 0
          while (i < src.length) {
            samples(i) = ((src(i) & 0xff) * 257 - 32768).toShort
            i += 1
          }
          val wav = graft.multimodal.WavCodec.encodePcm16(8000, 1, samples)
          val (rate, ch, dec) = graft.multimodal.WavCodec.decodePcm16(wav)
          require(ch == 1 && dec.length == samples.length,
            s"roundtrip shape drift: $ch ch, ${dec.length} samples")
          val (sum, chk, peak) = sampleChecksum(dec)
          (id, rate.toLong, dec.length.toLong, sum, chk, peak)
        }
        .toDF("doc_id", "sample_rate", "n_samples", "amp_sum",
          "pos_checksum", "peak_abs")
        .orderBy("doc_id")
    }),

    // The video DECODER under the driver hash — completes the media
    // trio (q203 image, q217 audio): each video-kind doc becomes a
    // real uncompressed-DIB AVI (5×3 BGR frames whose bytes cycle the
    // text), AviCodec walks the RIFF back, and every SECOND decoded
    // frame (the frame-sample pattern an embedding feed uses) reports
    // exact integer checksums. The 5-px width forces a padded DIB
    // stride and rows are stored bottom-up, so a flip or stride error
    // in the decoder shifts bytes and breaks the hash. Per-row
    // executor work, no shuffle.
    "q220_avi_frames" -> ((s, dir) => {
      import s.implicits._
      docText(s, dir, col("doc_id") % 3 === 2 && length(col("text")) > 0)
        .flatMap { case (id, text) =>
          val src = text.getBytes("ISO-8859-1")
          val len = src.length
          val nf = (3 + id % 3).toInt
          val frames = (0 until nf).map { f =>
            Array.tabulate(45)(p => src((f * 45 + p) % len))
          }
          val avi = graft.multimodal.AviCodec.encodeDib24(5, 3, frames, 10)
          val (w, h, fps, dec) = graft.multimodal.AviCodec.decodeDib24(avi)
          require(w == 5 && h == 3 && fps == 10 && dec.length == nf,
            s"roundtrip shape drift: ${w}x$h @$fps, ${dec.length} frames")
          dec.zipWithIndex.filter(_._2 % 2 == 0).map { case (fr, fi) =>
            val (sum, chk) = pixelChecksum(fr)
            (id, nf.toLong, fi.toLong, sum, chk)
          }
        }
        .toDF("doc_id", "n_frames", "frame_idx", "pix_sum", "pos_checksum")
        .orderBy("doc_id", "frame_idx")
    }),

    // Language-ID confusion matrix: the heuristic's predictions against
    // the table's labeled lang column — the evaluation every langid
    // gate needs before it filters a corpus. One scan (the 25 marker
    // counts are codegen'd CountInSetExpr loops), one tiny aggregate.
    "q137_langid_confusion" -> ((s, dir) => {
      val tk = graft.ops.TextOps.tokens(col("text"))
      t(s, dir, "documents")
        .select(col("lang"),
          graft.ops.TextOps.langPredict(
            graft.ops.TextOps.langScores(tk)).as("pred_lang"))
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred_lang")
    }),

    // Tokenizer vocabulary coverage: out-of-vocabulary token rate per
    // source against the corpus's own top-20 words — the coverage
    // audit run before freezing any fixed-vocab tokenizer (high-OOV
    // sources either need vocab budget or byte-fallback). The vocab is
    // DETERMINISTIC (count desc, word asc — no arbitrary tie survives
    // an engine change; k=20 ≈ 2/3 of this corpus's 31-word synthetic
    // vocabulary so the OOV tail is non-degenerate — production uses
    // 10⁵-10⁶) and vocab-sized, so it broadcasts at any
    // corpus scale; the corpus pays one token explode into a
    // map-side-combined (source, word) rollup, then a left join
    // against the broadcast vocab and a source-sized aggregate. Rates
    // in integer bp via DIV.
    "q197_vocab_oov" -> ((s, dir) => {
      val tokc = t(s, dir, "documents")
        .select(col("source"), explode(toks(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val vocab = tokc.groupBy("w").agg(sum(col("c")).as("n"))
        .orderBy(desc("n"), asc("w")).limit(20)
        .select(col("w"), lit(true).as("in_vocab"))
      tokc.join(broadcast(vocab), Seq("w"), "left")
        .groupBy("source")
        .agg(sum(col("c")).as("n_tokens"),
          sum(when(col("in_vocab").isNull, col("c")).otherwise(0L))
            .as("n_oov"),
          count(when(col("in_vocab").isNull, lit(1))).as("oov_types"))
        .select(col("source"), col("n_tokens"), col("n_oov"),
          col("oov_types"),
          ldiv(col("n_oov") * lit(10000L), col("n_tokens")).as("oov_bp"))
        .orderBy("source")
    }),

    // Cohen's kappa for the langid heuristic vs the labeled lang — the
    // chance-corrected agreement score every classifier-gate evaluation
    // should report next to its confusion matrix (q137): raw accuracy
    // flatters a gate on skewed label mixes. Exact integers throughout:
    // po and pe stay as n²-scaled counts (agree·n and Σ row·col), and
    // kappa lands in basis points via one integral DIV — n²·10⁴ fits
    // BIGINT to ~10⁷ docs per evaluation slice, and eval slices (not
    // corpora) are what kappa is computed over. Shape: one scan for
    // predictions, a label-pair-sized contingency, marginal products
    // broadcast — nothing corpus-sized shuffles twice.
    "q195_langid_kappa" -> ((s, dir) => {
      val tk = graft.ops.TextOps.tokens(col("text"))
      val pred = t(s, dir, "documents")
        .select(col("lang"),
          graft.ops.TextOps.langPredict(
            graft.ops.TextOps.langScores(tk)).as("pred_lang"))
      val cells = pred.groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val n = cells.agg(sum(col("c")).as("n"))
      val agree = cells.filter(col("lang") === col("pred_lang"))
        .agg(coalesce(sum(col("c")), lit(0L)).as("agree"))
      val rows = cells.groupBy("lang").agg(sum(col("c")).as("rc"))
      val cols = cells.groupBy("pred_lang").agg(sum(col("c")).as("cc"))
      val pe = rows.join(cols, col("lang") === col("pred_lang"))
        .agg(coalesce(sum(col("rc") * col("cc")), lit(0L)).as("pe_n2"))
      n.crossJoin(broadcast(agree)).crossJoin(broadcast(pe))
        .select(col("n"), col("agree"),
          // degenerate chance-agreement-is-certain case: kappa is
          // undefined — NULL, not /0
          when(col("n") * col("n") =!= col("pe_n2"),
            ldiv((col("agree") * col("n") - col("pe_n2")) * lit(10000L),
              col("n") * col("n") - col("pe_n2"))).as("kappa_bp"))
    }),

    // Word co-occurrence confidence over the top-20 document-frequency
    // words: P(b | a) in exact basis points (both·10⁴ DIV df_a — stays
    // in long range at any SF, unlike a lift numerator carrying
    // total·10⁴). The pair space is capped by the broadcast top-k
    // vocabulary (≤ k²/2 output rows regardless of corpus size), and
    // the per-doc fan-out of the self-join is ≤ k — the bounded shape
    // that makes within-doc co-occurrence tractable at 100 TB.
    "q138_cooccur_conf" -> ((s, dir) => {
      val dw = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(toks(col("text")))).as("w"))
      val top = dw.groupBy("w").agg(count(lit(1)).as("df"))
        .orderBy(desc("df"), asc("w")).limit(20)
      val f = dw.join(broadcast(top), "w")
      val a = f.select(col("doc_id"), col("w").as("w_a"),
        col("df").as("df_a"))
      val b = f.select(col("doc_id"), col("w").as("w_b"),
        col("df").as("df_b"))
      a.join(b, "doc_id")
        .filter(col("w_a") < col("w_b"))
        .groupBy("w_a", "w_b")
        .agg(count(lit(1)).as("both_df"),
          max(col("df_a")).as("df_a"), max(col("df_b")).as("df_b"))
        .select(col("w_a"), col("w_b"), col("both_df"),
          col("df_a"), col("df_b"),
          ldiv(col("both_df") * lit(10000L), col("df_a")).as("conf_bp"))
        .orderBy("w_a", "w_b")
    }),

    // Index-backed search (the T4 GIN-analogue as a query plan): q11
    // answered through POSTINGS instead of a full-token scan — the
    // explode collapses to the query terms' posting lists (w ∈ terms),
    // the AND-match is a posting intersection (every term present), and
    // the rank is the summed tf. Same answer as q11's scan plan, same
    // oracle (two plans, one oracle — the q16/q75 pattern). At 100 TB
    // the postings come from the PRE-BUILT q103 index partitioned by
    // term, so a 2-term query reads 2 partitions, not the corpus; this
    // registered form computes them inline against the same tables the
    // oracle sees.
    "q139_index_search" -> ((s, dir) => {
      val terms = Seq("spark", "join")
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(toks(col("text"))).as("w"))
        .filter(col("w").isin(terms: _*))
        .groupBy("doc_id", "source", "w")
        .agg(count(lit(1)).as("tf"))
        .groupBy("doc_id", "source")
        .agg(countDistinct(col("w")).as("n_terms"),
          sum(col("tf")).as("score"))
        .filter(col("n_terms") === terms.length)
        .select(col("doc_id"), col("source"), col("score"))
        .orderBy(desc("score"), asc("doc_id"))
        .limit(25)
    }),

    // Positional proximity ranking — the cover primitive inside Postgres
    // ts_rank_cd that the declared-simplified tf score (q11/q77) lacks:
    // rank matching docs by the SMALLEST token window containing all
    // query terms (min |posₐ − pos_b| + 1 for a 2-term query). Positions
    // come from one posexplode; the per-doc pair space is bounded by the
    // terms' occurrence counts (posting-list sized, never the document).
    // Integer-exact end-to-end.
    "q144_proximity_rank" -> ((s, dir) => {
      val pos = t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(toks(col("text"))).as(Seq("pos", "w")))
        .filter(col("w").isin("spark", "join"))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("w"))
      val a = pos.filter(col("w") === "spark")
        .select(col("doc_id"), col("pos").as("pa"))
      val b = pos.filter(col("w") === "join")
        .select(col("doc_id"), col("pos").as("pb"))
      a.join(b, "doc_id")
        .groupBy("doc_id")
        .agg((min(abs(col("pa") - col("pb"))) + 1).as("min_cover"))
        .orderBy(asc("min_cover"), asc("doc_id"))
        .limit(25)
    }),

    // Dedup survivorship by source: after canonical near-dup dedup
    // (cluster → min-id representative, q86's materialization), which
    // sources lose the most documents — the report that tells a corpus
    // run where its duplication actually comes from. Reuses the
    // session-shared edge set; one label join + a per-source rollup.
    "q145_dedup_survivorship" -> ((s, dir) => {
      val labels = graft.ops.DedupOps
        .connectedComponents(ScaleQ.dedupEdges(s, dir))
        .withColumnRenamed("node", "doc_id")
      t(s, dir, "documents").select(col("doc_id"), col("source"))
        .join(labels, Seq("doc_id"), "left")
        .withColumn("kept", (col("cluster").isNull ||
          col("cluster") === col("doc_id")).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("kept")).as("n_kept"),
          ldiv(sum(col("kept")) * lit(10000L), count(lit(1)))
            .as("kept_bp"))
        .orderBy("source")
    }),

    // One-pass exact multi-quantile (p25/p50/p95 of per-user gaps): the
    // lower-quantile k-th order statistics selected by rank in a SINGLE
    // windowed pass + conditional aggregation — no percentile
    // interpolation (doubles), no three scans. k_p = ceil(p·n) in exact
    // integral arithmetic. The rank window and the groupBy share one
    // user_id exchange.
    "q140_gap_quantiles" -> ((s, dir) => {
      val wLag = Window.partitionBy("user_id").orderBy(col("ts"),
        col("event_id"))
      val gaps = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(wLag))
        .filter(col("prev_us").isNotNull)
        .select(col("user_id"),
          (unix_micros(col("ts")) - col("prev_us")).as("gap_us"))
      val wRank = Window.partitionBy("user_id").orderBy("gap_us")
      val wAll = Window.partitionBy("user_id")
      gaps
        .withColumn("rn", row_number().over(wRank))
        .withColumn("n", count(lit(1)).over(wAll))
        .groupBy("user_id")
        .agg(max(col("n")).as("n_gaps"),
          max(when(col("rn") === ldiv(col("n") + 3, lit(4L)),
            col("gap_us"))).as("p25_us"),
          max(when(col("rn") === ldiv(col("n") + 1, lit(2L)),
            col("gap_us"))).as("p50_us"),
          max(when(col("rn") === ldiv(col("n") * 19 + 19, lit(20L)),
            col("gap_us"))).as("p95_us"))
        .orderBy("user_id")
    }),

    // Last-touch attribution: each purchase attributes to the user's
    // most recent PRECEDING click within a 7-day window — the windowed
    // as-of the marketing pipeline runs. One per-user ordered window
    // (last(click, ignoreNulls) over unbounded-preceding..-1) does the
    // whole as-of: no self-join, no range join, and the window's
    // user_id partitioning parallelizes across users at any scale.
    "q141_attribution" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val horizonUs = 7L * 24 * 3600 * 1000000L
      val withClick = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("click_id", last(when(col("event_type") === "click",
          col("event_id")), ignoreNulls = true).over(w))
        .withColumn("click_us", last(when(col("event_type") === "click",
          unix_micros(col("ts"))), ignoreNulls = true).over(w))
      val inWindow = col("click_us").isNotNull &&
        unix_micros(col("ts")) - col("click_us") <= horizonUs
      withClick
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          when(inWindow, col("click_id")).as("click_id"),
          when(inWindow, unix_micros(col("ts")) - col("click_us"))
            .as("gap_us"))
        .orderBy("purchase_id")
    }),

    // BPE ENCODING at corpus scale (the step after q102's merge mining):
    // apply a learned merge list to every word and measure the
    // chars→symbols compression. The corpus collapses to its VOCABULARY
    // first — each distinct word is encoded exactly once, then the
    // per-doc totals come from the carried (doc, word) counts; at 100 TB
    // the encode cost is vocab-sized, not corpus-sized. The merge chain
    // is a fold of literal `replace`s over the space-separated symbol
    // string (leftmost non-overlapping in both engines — the same
    // apply-to-all-occurrences pass a reference BPE encoder makes per
    // merge), so the encoder is oracle-exact with zero UDFs.
    "q143_bpe_encode" -> ((s, dir) => {
      val dw = t(s, dir, "documents")
        .select(col("doc_id"), explode(toks(col("text"))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      val vocab = dw.select("w").distinct()
      val spaced = concat(lit(" "),
        array_join(filter(split(col("w"), ""), x => x =!= lit("")), " "),
        lit(" "))
      // priority-ordered merges (top adjacent pairs of English text);
      // later merges build on earlier ones (th+e → the)
      val merges = Seq("t h", "h e", "i n", "e r", "a n", "th e")
      val encoded = merges.foldLeft(spaced) { (acc, m) =>
        call_function("replace", acc,
          lit(" " + m + " "), lit(" " + m.replace(" ", "") + " "))
      }
      val enc = vocab.select(col("w"),
        length(col("w")).cast("long").as("n_chars"),
        size(split(trim(encoded), " ")).cast("long").as("n_sub"))
      dw.join(enc, "w")
        .groupBy("doc_id")
        .agg(sum(col("c") * col("n_chars")).as("n_chars"),
          sum(col("c") * col("n_sub")).as("n_bpe"))
        // all-empty-token docs would divide by zero — Spark DIV nulls
        // where DuckDB errors, so keep both sides total alike
        .filter(col("n_chars") >= 1)
        .select(col("doc_id"), col("n_chars"), col("n_bpe"),
          ldiv(col("n_bpe") * lit(10000L), col("n_chars"))
            .as("compression_bp"))
        .orderBy("doc_id")
    }),

    // Customer order-count distribution (the TPC-H Q13 shape): aggregate
    // OF an aggregate — per-customer order counts including zero-order
    // customers (left outer join), then the distribution of those
    // counts. Both levels partial-aggregate; the second level's input is
    // customer-sized, its output ≤ max(orders per customer) rows.
    "q142_custdist" -> ((s, dir) => {
      val perCust = t(s, dir, "customer")
        .join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
      perCust
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    }),

    // Pairwise source-vocabulary Jaccard (basis points): how much two
    // crawl sources overlap lexically — the upstream signal for corpus
    // mixing weights. Vocab collapses to (source, word) first, the
    // pair counts come from a word-keyed posting self-join (fan-out
    // bounded by #sources per word, never a cross join), and the
    // source-sized size table broadcasts.
    "q135_source_vocab_jaccard" -> ((s, dir) => {
      val vocab = t(s, dir, "documents")
        .select(col("source"), explode(toks(col("text"))).as("w"))
        .distinct()
      val sizes = vocab.groupBy("source").agg(count(lit(1)).as("sz"))
      val a = vocab.select(col("w"), col("source").as("src_a"))
      val b = vocab.select(col("w"), col("source").as("src_b"))
      a.join(b, Seq("w"))
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("inter"))
        .join(broadcast(sizes.select(col("source").as("src_a"),
          col("sz").as("sz_a"))), "src_a")
        .join(broadcast(sizes.select(col("source").as("src_b"),
          col("sz").as("sz_b"))), "src_b")
        .select(col("src_a"), col("src_b"), col("inter"),
          ldiv(col("inter") * lit(10000L),
            col("sz_a") + col("sz_b") - col("inter")).as("jaccard_bp"))
        .orderBy("src_a", "src_b")
    }),

    // Cross-document duplicated-span fraction (the exact-substring-dedup
    // signal of Lee et al. 2022 at 8-gram granularity): for each doc, the
    // share of its 8-token spans that also appear in ANOTHER doc.
    // Distinct from q131 (within-doc repetition) and q97 (doc-vs-benchmark
    // overlap) — this is corpus-internal boilerplate detection. Shape at
    // 100 TB: explode to (doc, span) pairs, collapse per (doc, span)
    // FIRST (map-side combinable), then one span-keyed exchange serves
    // both the doc-frequency aggregate and the join back — the inverted-
    // index shape of q103, never a doc×doc comparison. Fractions in exact
    // basis points via integral DIV.
    "q150_dup_span" -> ((s, dir) => {
      val spans = t(s, dir, "documents")
        .select(col("doc_id"), toks(col("text")).as("tk"))
        .filter(size(col("tk")) >= 8)
        .select(col("doc_id"), explode(graft.functions.ShinglesExpr
          .ngrams(col("tk"), 8)).as("ng")) // codegen'd, not the HOF chain
      val perDoc = spans.groupBy("doc_id", "ng")
        .agg(count(lit(1)).as("c"))
      val docFreq = perDoc.groupBy("ng")
        .agg(count(lit(1)).as("nd"))
      perDoc.join(docFreq, "ng")
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_spans"),
          sum(when(col("nd") >= 2, col("c")).otherwise(0L))
            .as("dup_spans"))
        .select(col("doc_id"), col("n_spans"), col("dup_spans"),
          ldiv(col("dup_spans") * lit(10000L), col("n_spans"))
            .as("dup_bp"))
        .orderBy(desc("dup_bp"), asc("doc_id"))
        .limit(50)
    }),

    // Lexical diversity as the Gini–Simpson index 1 − Σp², in exact basis
    // points: (n² − Σc²)·10⁴ DIV n². Entropy would need log() — a libm
    // call with no cross-engine rounding guarantee — while Simpson is
    // pure integer arithmetic on token counts, so it hash-matches any
    // engine. Shape: the (doc, word) count is map-side combinable and
    // the per-doc reduce is vocab-sized; nothing quadratic, one exchange
    // family.
    "q154_lexical_diversity" -> ((s, dir) => {
      val c = t(s, dir, "documents")
        .select(col("doc_id"), explode(toks(col("text"))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      c.groupBy("doc_id")
        .agg(sum(col("c")).as("n"),
          count(lit(1)).as("vocab"),
          sum(col("c") * col("c")).as("s2"))
        .select(col("doc_id"), col("n"), col("vocab"),
          ldiv((col("n") * col("n") - col("s2")) * lit(10000L),
            col("n") * col("n")).as("simpson_bp"))
        .orderBy("doc_id")
    }),

    // Deterministic class balancing: undersample every label to the
    // minority-class count, choosing survivors by md5-hash order — a
    // seedless, engine-independent "random" that any replica reproduces
    // bit-for-bit (the q54/q62 sampling discipline applied to label
    // skew). The min-count scalar broadcasts; the only real exchange is
    // the per-label rank window.
    "q155_balance_classes" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label"))
      val minCnt = e.groupBy("label").agg(count(lit(1)).as("c"))
        .agg(min(col("c")).as("min_c"))
      val w = Window.partitionBy("label")
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      e.withColumn("rn", row_number().over(w))
        .crossJoin(broadcast(minCnt))
        .filter(col("rn") <= col("min_c"))
        .select(col("vec_id"), col("label"))
        .orderBy("label", "vec_id")
    }),

    // Train→eval split leakage: pairs of documents in DIFFERENT q111
    // splits that share an 8-token span — q97's benchmark-decontamination
    // discipline turned inward on the pipeline's own train/val/test cut.
    // Spans are per-doc distinct, and a doc-frequency ≤ 16 hub guard
    // keeps boilerplate n-grams from quadratically exploding the posting
    // join at corpus scale (the same reason q97 prunes common grams);
    // the report is the surviving (train, eval) pairs with shared-span
    // counts.
    "q156_split_leakage" -> ((s, dir) => {
      val h = substring(md5(col("doc_id").cast("string").cast("binary")),
        1, 4)
      // ensureParallel: the 8-gram shingle assembly below is the
      // query's CPU-heavy stage, and a bench-SF single-file scan
      // serializes it into one task (measured 3.2 s of a 4 s wall on
      // one core; at scale the splits already parallelize — guide §2.5
      // input-skew fix)
      val spans = graft.ops.Partitioning.ensureParallel(
        t(s, dir, "documents")
          .select(col("doc_id"), col("text")))
        .withColumn("split",
          when(h < "cccc", "train").when(h < "e666", "val")
            .otherwise("test"))
        .select(col("doc_id"), col("split"), toks(col("text")).as("tk"))
        .filter(size(col("tk")) >= 8)
        .select(col("doc_id"), col("split"),
          explode(graft.functions.ShinglesExpr.shingles(col("tk"), 8))
            .as("ng")) // codegen'd distinct shingles, not the HOF chain
      // one ng-keyed exchange builds both posting lists AND applies the
      // hub guard; the train×eval product explodes IN-ROW, bounded at
      // 16×16 by the guard (the q128 lesson: posting-list pair explode
      // beats a self-join — the span subtree evaluates once, not 4×)
      spans.groupBy("ng").agg(
          count(lit(1)).as("nd"),
          collect_list(when(col("split") === "train", col("doc_id")))
            .as("tr"),
          collect_list(when(col("split") =!= "train",
            struct(col("doc_id").as("eval_id"),
              col("split").as("eval_split")))).as("ev"))
        .filter(col("nd") <= 16 && size(col("tr")) > 0 &&
          size(col("ev")) > 0)
        .select(explode(flatten(transform(col("tr"), tid =>
          transform(col("ev"), e => struct(tid.as("train_id"),
            e.getField("eval_id").as("eval_id"),
            e.getField("eval_split").as("eval_split")))))).as("p"))
        .groupBy(col("p.train_id").as("train_id"),
          col("p.eval_id").as("eval_id"),
          col("p.eval_split").as("eval_split"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("train_id", "eval_id")
    }),

    // Domain-mixture reweighting (DoReMi-style static target weights
    // applied deterministically): given per-source target shares in
    // basis points, the largest feasible corpus is N = min_s ⌊n_s·10⁴ /
    // bp_s⌋ (the scarcest source binds); each source then keeps its
    // quota ⌊bp_s·N/10⁴⌋ docs in md5-hash survivor order — seedless and
    // replica-reproducible, the q155 discipline with non-uniform
    // targets. Everything that moves is source-sized (counts, quotas,
    // the N scalar — all broadcast); the only data-sized exchange is
    // the per-source rank, and quota selection could swap to the q159
    // histogram threshold if a single source ever outgrew a partition.
    "q171_mixture_reweight" -> ((s, dir) => {
      import s.implicits._
      val w = broadcast(mixtureBp.toDF("source", "target_bp"))
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
      // ONE data-sized scan feeds counts; the binding minimum rides a
      // window over the already-aggregated source-sized frame (the q157
      // "global window over collapsed rows" discipline) instead of a
      // second aggregation re-scanning the corpus.
      val quotas = broadcast(d.groupBy("source")
        .agg(count(lit(1)).as("n_in"))
        .join(w, "source")
        .withColumn("n_out",
          min(ldiv(col("n_in") * lit(10000L), col("target_bp")))
            .over(Window.partitionBy(lit(1))))
        .select(col("source"), col("n_in"), col("target_bp"),
          ldiv(col("target_bp") * col("n_out"), lit(10000L)).as("quota")))
      val rk = row_number().over(Window.partitionBy("source").orderBy(
        md5(concat(col("source"), lit(":"), col("doc_id").cast("string"))
          .cast("binary"))))
      d.withColumn("rk", rk)
        .join(quotas, "source")
        .filter(col("rk") <= col("quota"))
        .groupBy("source")
        .agg(first(col("n_in")).as("n_in"),
          first(col("target_bp")).as("target_bp"),
          first(col("quota")).as("quota"),
          count(lit(1)).as("kept"),
          sum(col("doc_id")).as("id_checksum"))
        .orderBy("source")
    }),

    // Epoch-aware deterministic shuffle: each training epoch re-permutes
    // the corpus by md5(epoch:doc_id) — no RNG state to ship, any
    // replica reconstructs any epoch's order. The permutation is
    // hierarchical exactly like a distributed loader's: a 16-way shard
    // key from the hash's first nibble (the cross-cluster split), then
    // a within-shard position (the local shuffle buffer) — so the rank
    // window partitions on (epoch, shard) and NO global ordering is
    // ever materialized; shards scale out with the cluster.
    "q172_epoch_shuffle" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
        .withColumn("epoch", explode(sequence(lit(0L), lit(2L))))
        .withColumn("hk", md5(concat(col("epoch").cast("string"),
          lit(":"), col("doc_id").cast("string")).cast("binary")))
        .withColumn("shard", substring(col("hk"), 1, 1))
      d.withColumn("pos", row_number().over(
          Window.partitionBy("epoch", "shard").orderBy("hk"))
          .cast("long"))
        .select(col("epoch"), col("shard"), col("pos"), col("doc_id"))
        .orderBy("epoch", "shard", "pos")
    }),

    // CCNet-style paragraph dedup — the corpus REWRITE, not just the
    // measurement (q150 measures overlapping-span mass; this drops
    // repeated paragraphs and recomposes the document). Paragraph unit =
    // non-overlapping 16-token segment (the corpus is flat word streams;
    // on prose this would split on blank lines). First occurrence wins
    // by (doc_id, seg index) — exactly CCNet's keep-one semantics. Only
    // paragraph hashes shuffle (collapsed corpus-sized key space, the
    // same posting-join bound as q150); the rewrite is a per-doc
    // collect_list re-assembly, never a global sort.
    "q173_paragraph_dedup" -> ((s, dir) => {
      val segs = t(s, dir, "documents")
        .select(col("doc_id"), toks(col("text")).as("tk"))
        .select(col("doc_id"), explode(transform(
          sequence(lit(0), ((size(col("tk")) - 1) / 16).cast("int")),
          i => struct((i + 1).as("seg"),
            concat_ws(" ", slice(col("tk"), i * 16 + 1, lit(16))).as("p"))))
          .as("sp"))
        .select(col("doc_id"), col("sp.seg").as("seg"), col("sp.p").as("p"))
      val firstOwner = segs
        .groupBy("p")
        .agg(min(struct(col("doc_id"), col("seg"))).as("o"))
        .select(col("p"), col("o.doc_id").as("o_id"), col("o.seg").as("o_seg"))
      segs.join(firstOwner, "p")
        .withColumn("keep",
          col("doc_id") === col("o_id") && col("seg") === col("o_seg"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_paras"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          md5(concat_ws(" ", sort_array(collect_list(
            when(col("keep"), struct(col("seg"), col("p"))))).getField("p"))
            .cast("binary")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // Sequence-length bucketing: the batch-packing report — docs binned
    // to the next power-of-two token budget, per-bucket padding waste in
    // exact basis points. Pure per-row bucket assignment + a
    // bucket-count-sized aggregate; the CASE ladder keeps the bucket
    // boundary integral in both engines (no libm log2).
    "q174_length_buckets" -> ((s, dir) => {
      val n = size(toks(col("text"))).cast("long")
      val bucket = when(n <= 16, 16L).when(n <= 32, 32L)
        .when(n <= 64, 64L).when(n <= 128, 128L).when(n <= 256, 256L)
        .when(n <= 512, 512L).otherwise(1024L)
      t(s, dir, "documents")
        .select(col("doc_id"), n.as("n_tok"), bucket.as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("sum_tok"),
          sum(col("bucket") - col("n_tok")).as("sum_pad"))
        .select(col("bucket"), col("n_docs"), col("sum_tok"),
          ldiv(col("sum_pad") * lit(10000L),
            col("bucket") * col("n_docs")).as("waste_bp"))
        .orderBy("bucket")
    }),

    // CCNet/KenLM-style fluency gate, self-trained: a bigram LM whose
    // stats come from the corpus itself scores every document by its
    // mean transition probability — boilerplate and shuffled-word noise
    // score low, natural prose high. Probabilities stay EXACT integers:
    // each bigram occurrence contributes (count(w1,w2)·10⁶) DIV
    // count(w1·), and the doc score is the integral mean — no log, no
    // float (log has no cross-engine rounding contract; the q154
    // lesson). Shape at 100 TB: one token-exploded pass feeds the
    // bigram count table map-side-combined, and the CONTEXT counts
    // derive from that table (cw = Σ cb over bigrams starting with w —
    // a vocab-sized rollup, not a second corpus pass); the scoring
    // join is bigram-keyed — the SAME exchange the bigram-count
    // aggregate produced (AQE reuses it), never doc×doc. The doc scan
    // is re-parallelized first: bigram assembly is the compute-heavy
    // stage, and a bench-SF single-file scan would serialize it into
    // one task (at scale the splits already parallelize; the guard is
    // a no-op).
    // Counts cap at ~1e12 bigram occurrences before the ·10⁶ quantizer
    // would overflow BIGINT — beyond that, widen SCALE down, not up.
    "q178_lm_fluency" -> ((s, dir) => {
      // bigrams via the codegen'd ShinglesExpr — the HOF
      // transform/slice/concat_ws chain evaluates interpreted per
      // element (HigherOrderFunction is outside whole-stage codegen)
      // and this relation is the query's hot pass, consumed twice
      val bg = graft.ops.Partitioning.ensureParallel(
        t(s, dir, "documents").select(col("doc_id"), col("text")))
        .select(col("doc_id"), toks(col("text")).as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(col("doc_id"), explode(graft.functions.ShinglesExpr
          .ngrams(col("tk"), 2)).as("b"))
      val bc = bg.groupBy("b").agg(count(lit(1)).as("cb"))
      val cc = bc.groupBy(substring_index(col("b"), " ", 1).as("w"))
        .agg(sum(col("cb")).as("cw"))
      bg.join(bc, "b")
        .withColumn("w", substring_index(col("b"), " ", 1))
        .join(cc, "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(ldiv(col("cb") * lit(1000000L), col("cw"))).as("sc"))
        .select(col("doc_id"), col("n_bigrams"),
          ldiv(col("sc"), col("n_bigrams")).as("fluency_ppm"))
        .orderBy("doc_id")
    }),

    // DSIR-style importance weighting (hashed n-gram importance
    // resampling): score every raw document by how target-like its
    // token distribution is, with the target domain = the English
    // slice. Features are unigrams hashed into 4096 buckets (3 hex
    // chars of md5 — the bucket KEY stays a string; no hex→int cast to
    // disagree on). Per-bucket ratio = (target_count·10⁶) DIV raw_count
    // — target ⊆ raw bounds every ratio at 10⁶, so per-doc sums can't
    // overflow; the global Nt/Nr normalizer is a constant factor across
    // all docs and is dropped (DIV-quantized ratios, the ldiv
    // discipline). Shape at 100 TB: bucket stats are 4096 rows —
    // broadcast to the token stream; per-doc mean is one map-side-
    // combinable doc-keyed aggregate. No shuffle grows with the corpus
    // except the token→doc partial-agg pass itself.
    "q179_dsir_weights" -> ((s, dir) => {
      val w = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(toks(col("text"))).as("tok"))
        .select(col("doc_id"), col("lang"),
          substring(md5(col("tok").cast("binary")), 1, 3).as("bk"))
      val rc = w.groupBy("bk").agg(count(lit(1)).as("rcnt"))
      val tc = w.filter(col("lang") === "en")
        .groupBy("bk").agg(count(lit(1)).as("tcnt"))
      val ratio = rc.join(tc, Seq("bk"), "left")
        .select(col("bk"), ldiv(coalesce(col("tcnt"), lit(0L)) *
          lit(1000000L), col("rcnt")).as("ratio"))
      w.join(broadcast(ratio), "bk")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("ratio")).as("sr"))
        .select(col("doc_id"), col("n_tokens"),
          ldiv(col("sr"), col("n_tokens")).as("dsir_ppm"))
        .orderBy("doc_id")
    }),

    // Deterministic MLM token masking (the 15% BERT-style objective) as
    // a PURE PROJECTION: the mask decision is a stateless 31-bit
    // multiplicative mixer over (doc_id, position) — Park–Miller
    // constants, two modular multiply rounds, every intermediate
    // ≤ ~10¹⁴ so BIGINT never wraps on either engine (DuckDB errors on
    // wrap rather than wrapping, so a wider mixer would fail loudly,
    // not drift). Stateless is the property that matters at 100 TB:
    // masks are reproducible from (doc_id, pos) alone — any executor,
    // any retry, any resume of a preprocessing run regenerates the
    // identical mask without coordination or stored RNG state, and the
    // whole thing stays inside whole-stage codegen (no UDF, no shuffle
    // beyond the doc-keyed rollup the output needs anyway).
    "q184_mlm_mask" -> ((s, dir) => {
      val m = lit(2147483647L)
      val h1 = (col("doc_id") * 48271L + col("pos") * 16807L
        + 12345L) % m
      val h2 = (h1 * 48271L) % m
      t(s, dir, "documents")
        .select(col("doc_id"), posexplode(toks(col("text")))
          .as(Seq("pos", "tk")))
        .withColumn("masked", h2 % 20L < 3L)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked"),
          sum(when(col("masked"), col("pos") + 1L).otherwise(0L))
            .as("mask_pos_sum"),
          sum(when(col("masked"), length(col("tk"))).otherwise(0L))
            .cast("long").as("mask_chars"))
        .orderBy("doc_id")
    }),

    // Randomized-response private counting (Warner 1965, the local-DP
    // primitive telemetry pipelines use): each record reports its
    // sensitive bit (lang = 'en') TRUTHFULLY except with probability
    // 1/4, decided by the same stateless q184 mixer — reproducible on
    // any executor/retry with no stored RNG, and replayable by the
    // oracle. The aggregate debiases exactly in integers:
    // E[noisy] = n/4 + true/2, so est·2 = 4·noisy − n (kept ×2 to stay
    // integral); the true count rides along as the calibration audit
    // this synthetic setting affords. One scan, source-sized rollup,
    // all inside whole-stage codegen.
    "q222_private_counts" -> ((s, dir) => {
      val m = lit(2147483647L)
      val h1 = (col("doc_id") * 48271L + 12345L) % m
      val h2 = (h1 * 48271L) % m
      val flip = h2 % 4L === 0L
      val truth = col("lang") === "en"
      t(s, dir, "documents")
        .select(col("source"), truth.as("t"), (truth =!= flip).as("r"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("t"), 1L).otherwise(0L)).as("true_en"),
          sum(when(col("r"), 1L).otherwise(0L)).as("noisy_en"))
        .select(col("source"), col("n_docs"), col("true_en"),
          col("noisy_en"),
          (lit(4L) * col("noisy_en") - col("n_docs")).as("est_times2"),
          (lit(4L) * col("noisy_en") - col("n_docs")
            - lit(2L) * col("true_en")).as("err_times2"))
        .orderBy("source")
    }),

    // Safety-blocklist gate: per-source hit audit for a broadcast term
    // list — the first filter every training-corpus run applies. The
    // per-doc hit count is the codegen'd CountInSetExpr over the shared
    // tokenizer (NO explode, no join: the list lives in the instruction
    // stream), so the whole gate is one scan folding into a source-
    // sized rollup. Flag rate in exact basis points.
    "q260_blocklist_hits" -> ((s, dir) => {
      import graft.functions.CountInSetExpr.countInSet
      t(s, dir, "documents")
        .select(col("source"),
          countInSet(toks(col("text")),
            Seq("slow", "hash", "scan", "merge")).as("hits"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("hits") > 0, 1L).otherwise(0L)).as("n_flagged"),
          sum(col("hits")).as("total_hits"))
        .select(col("source"), col("n_docs"), col("n_flagged"),
          col("total_hits"),
          ldiv(col("n_flagged") * lit(10000L), col("n_docs"))
            .as("flagged_bp"))
        .orderBy("source")
    }),

    // Chat-transcript schema gate — the SFT-data validator: each doc
    // carries a synthesized two-turn JSON chat with id-injected
    // malformations (role key dropped / empty content / broken
    // user→assistant alternation), and the engine must find them by
    // PARSING (from_json + array predicates, all codegen) while the
    // oracle knows the truth from the id arithmetic — the codec-gate
    // discipline applied to conversation structure. Violation
    // precedence mirrors injection precedence. One scan, 4-row rollup.
    "q261_chat_schema_gate" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val msgSchema = ArrayType(StructType(Seq(
        StructField("role", StringType),
        StructField("content", StringType))))
      val id = col("doc_id")
      val userObj = concat(lit("{\"role\":\"user\",\"content\":\"m"),
        id, lit("\"}"))
      val asstObj = when(id % 4 === 1,
          concat(lit("{\"role\":\"user\",\"content\":\"r"), id, lit("\"}")))
        .when(id % 4 === 2, concat(lit("{\"content\":\"r"), id, lit("\"}")))
        .when(id % 4 === 3, lit("{\"role\":\"assistant\",\"content\":\"\"}"))
        .otherwise(concat(
          lit("{\"role\":\"assistant\",\"content\":\"r"), id, lit("\"}")))
      val msgs = from_json(
        concat(lit("["), userObj, lit(","), asstObj, lit("]")), msgSchema)
      val roles = transform(msgs, m => m.getField("role"))
      t(s, dir, "documents")
        .select(col("doc_id"), msgs.as("msgs"), roles.as("roles"))
        .select(col("doc_id"),
          when(exists(col("msgs"), m => m.getField("role").isNull),
              "missing_role")
            .when(exists(col("msgs"), m => m.getField("content") === ""),
              "empty_content")
            .when(not(col("roles") ===
              array(lit("user"), lit("assistant"))), "bad_alternation")
            .otherwise("ok").as("violation"))
        .groupBy("violation")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_checksum"))
        .orderBy("violation")
    }),

    // Krippendorff's alpha (ordinal/interval metric, two coders) — the
    // agreement statistic annotation pipelines report when kappa's
    // nominal metric wastes the rating scale. Ratings are md5-nibble
    // synthesized (string-keyed, replayable on both engines, q229
    // idiom) with id-injected disagreement. EXACT integer form:
    // α = 1 − D_o/D_e with D_o = Σ o_ck·δ²/N and
    // D_e = Σ n_c·n_k·δ²/(N(N−1)), δ² = (c−k)², so
    // α_bp = 10000 − (2Σ(a1−a2)²·(N−1)·10000) DIV (Σ n_c·n_k·(c−k)²).
    // Shape: one scan → 5-value histogram; the δ² cross is a broadcast
    // over ≤25 cells. Nothing corpus-sized shuffles.
    "q262_krippendorff_alpha" -> ((s, dir) => {
      def nib(salt: String, pos: Int) =
        expr(s"instr('0123456789abcdef', substring(" +
          s"md5(concat('$salt', cast(doc_id as string))), $pos, 1)) - 1")
          .cast("long")
      val a1 = pmod(nib("r1:", 1), lit(5L))
      val a2 = when(col("doc_id") % 3 === 0,
          pmod(a1 + 1L + pmod(nib("r2:", 1), lit(3L)), lit(5L)))
        .otherwise(a1)
      val d = t(s, dir, "documents")
        .select(col("doc_id"), a1.as("a1"), a2.as("a2"))
        .localCheckpoint(false)
      val doRow = d.agg(count(lit(1)).as("n_units"),
        (lit(2L) * sum((col("a1") - col("a2")) * (col("a1") - col("a2"))))
          .as("do_num"))
      val hist = d.select(col("a1").as("v"))
        .unionAll(d.select(col("a2").as("v")))
        .groupBy("v").agg(count(lit(1)).as("nc"))
      val deRow = hist.crossJoin(
          broadcast(hist.select(col("v").as("k"), col("nc").as("nk"))))
        .agg(sum(col("nc") * col("nk") * (col("v") - col("k"))
          * (col("v") - col("k"))).as("de_num"))
      doRow.crossJoin(broadcast(deRow))
        .select(col("n_units"), col("do_num"), col("de_num"),
          (lit(10000L) - ldiv(
            col("do_num") * (lit(2L) * col("n_units") - 1L) * 10000L,
            col("de_num"))).as("alpha_bp"))
    }),
  )

  /** q171's target mixture (basis points, sums to 10000) — one source of
    * truth for the query and its oracle. */
  private val mixtureBp: Seq[(String, Long)] = (0 to 19).map(i =>
    ("src" + i, if (i < 5) 1000L else if (i < 10) 500L else 250L))

  val oracles: Map[String, String] = Map(
    // HUGEINT discipline: sum() goes HUGEINT, `//` stays integral on
    // integer types (NEVER on DECIMAL — that's double division), final
    // CAST to BIGINT matches Spark's long.
    "q178_lm_fluency" ->
      """WITH t AS (
        | SELECT doc_id, string_split(lower(text), ' ') AS toks
        | FROM documents),
        |bg AS (
        | SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |   i -> toks[i] || ' ' || toks[i+1])) AS b
        | FROM t WHERE len(toks) >= 2),
        |bc AS (SELECT b, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY b),
        |cc AS (SELECT split_part(b, ' ', 1) AS w,
        |        CAST(count(*) AS BIGINT) AS cw FROM bg GROUP BY 1),
        |d AS (
        | SELECT g.doc_id, count(*) AS nb,
        |  sum(cb * 1000000 // cw) AS sc
        | FROM bg g JOIN bc ON g.b = bc.b
        |  JOIN cc ON split_part(g.b, ' ', 1) = cc.w
        | GROUP BY 1)
        |SELECT doc_id, CAST(nb AS BIGINT) AS n_bigrams,
        | CAST(sc // nb AS BIGINT) AS fluency_ppm
        |FROM d ORDER BY doc_id""".stripMargin,

    "q179_dsir_weights" ->
      """WITH w AS (
        | SELECT doc_id, lang, substr(md5(tok), 1, 3) AS bk FROM (
        |  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents)),
        |rc AS (SELECT bk, CAST(count(*) AS BIGINT) AS rcnt FROM w GROUP BY bk),
        |tc AS (SELECT bk, CAST(count(*) AS BIGINT) AS tcnt
        |       FROM w WHERE lang = 'en' GROUP BY bk),
        |ratio AS (
        | SELECT rc.bk, coalesce(tcnt, 0) * 1000000 // rcnt AS ratio
        | FROM rc LEFT JOIN tc ON rc.bk = tc.bk),
        |d AS (
        | SELECT w.doc_id, count(*) AS nt, sum(ratio) AS sr
        | FROM w JOIN ratio ON w.bk = ratio.bk GROUP BY 1)
        |SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
        | CAST(sr // nt AS BIGINT) AS dsir_ppm
        |FROM d ORDER BY doc_id""".stripMargin,

    "q171_mixture_reweight" -> {
      val values = mixtureBp
        .map { case (s, bp) => s"('$s', CAST($bp AS BIGINT))" }
        .mkString(", ")
      s"""WITH w(source, target_bp) AS (VALUES $values),
         |c AS (SELECT source, count(*) AS n_in FROM documents GROUP BY source),
         |cw AS (SELECT c.source, n_in, target_bp FROM c JOIN w USING (source)),
         |n AS (SELECT min(n_in * 10000 // target_bp) AS n_out FROM cw),
         |q AS (SELECT source, n_in, target_bp,
         |        target_bp * n_out // 10000 AS quota FROM cw, n),
         |r AS (SELECT source, doc_id, row_number() OVER (
         |        PARTITION BY source
         |        ORDER BY md5(source || ':' || CAST(doc_id AS VARCHAR))) AS rk
         |      FROM documents)
         |SELECT q.source, CAST(n_in AS BIGINT) AS n_in,
         | CAST(target_bp AS BIGINT) AS target_bp,
         | CAST(quota AS BIGINT) AS quota,
         | CAST(count(*) AS BIGINT) AS kept,
         | CAST(sum(doc_id) AS BIGINT) AS id_checksum
         |FROM r JOIN q ON r.source = q.source AND r.rk <= q.quota
         |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin
    },

    "q173_paragraph_dedup" ->
      """WITH s AS (SELECT doc_id, string_split(lower(text), ' ') AS tk
        |           FROM documents),
        |seg AS (
        | SELECT doc_id,
        |  unnest(list_transform(range(1, (len(tk) - 1) // 16 + 2),
        |    i -> struct_pack(seg := i,
        |      p := array_to_string(tk[(i-1)*16+1 : i*16], ' '))),
        |    recursive := true)
        | FROM s),
        |own AS (
        | SELECT p, doc_id AS o_id, seg AS o_seg,
        |  row_number() OVER (PARTITION BY p ORDER BY doc_id, seg) AS rn
        | FROM seg),
        |j AS (
        | SELECT seg.doc_id, seg.seg, seg.p,
        |  (seg.doc_id = own.o_id AND seg.seg = own.o_seg) AS keep
        | FROM seg JOIN own ON seg.p = own.p AND own.rn = 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras,
        | CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | md5(coalesce(string_agg(CASE WHEN keep THEN p END, ' '
        |   ORDER BY seg), '')) AS clean_md5
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q174_length_buckets" ->
      """WITH b AS (
        | SELECT doc_id, len(string_split(lower(text), ' ')) AS n,
        |  CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
        |       WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
        |       WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
        |       ELSE 1024 END AS bucket
        | FROM documents)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        | CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n) AS BIGINT) AS sum_tok,
        | CAST(sum(bucket - n) AS BIGINT) * 10000
        |   // (CAST(bucket AS BIGINT) * count(*)) AS waste_bp
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q172_epoch_shuffle" ->
      """WITH e AS (SELECT unnest([0, 1, 2]) AS epoch),
        |h AS (SELECT CAST(e.epoch AS BIGINT) AS epoch, doc_id,
        |  md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS hk
        | FROM documents, e)
        |SELECT epoch, substr(hk, 1, 1) AS shard,
        | CAST(row_number() OVER (PARTITION BY epoch, substr(hk, 1, 1)
        |   ORDER BY hk) AS BIGINT) AS pos,
        | doc_id
        |FROM h ORDER BY epoch, shard, pos""".stripMargin,
    "q150_dup_span" ->
      """WITH t AS (
        | SELECT doc_id, string_split(lower(text), ' ') AS toks
        | FROM documents),
        |g AS (
        | SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS ng
        | FROM t, UNNEST(range(1, len(toks) - 6)) AS u(i)
        | WHERE len(toks) >= 8),
        |pd AS (
        | SELECT doc_id, ng, count(*) AS c FROM g GROUP BY doc_id, ng),
        |df AS (
        | SELECT ng, count(*) AS nd FROM pd GROUP BY ng)
        |SELECT pd.doc_id,
        | CAST(sum(pd.c) AS BIGINT) AS n_spans,
        | CAST(sum(CASE WHEN df.nd >= 2 THEN pd.c ELSE 0 END) AS BIGINT)
        |   AS dup_spans,
        | CAST(sum(CASE WHEN df.nd >= 2 THEN pd.c ELSE 0 END) * 10000
        |   // sum(pd.c) AS BIGINT) AS dup_bp
        |FROM pd JOIN df ON pd.ng = df.ng
        |GROUP BY pd.doc_id
        |ORDER BY dup_bp DESC, doc_id ASC
        |LIMIT 50""".stripMargin,

    "q154_lexical_diversity" ->
      """WITH t AS (
        | SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        | FROM documents),
        |c AS (SELECT doc_id, w, count(*) AS c FROM t GROUP BY 1, 2),
        |d AS (
        | SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS vocab,
        |  CAST(sum(c * c) AS BIGINT) AS s2
        | FROM c GROUP BY 1)
        |SELECT doc_id, n, vocab,
        | CAST((n * n - s2) * 10000 // (n * n) AS BIGINT) AS simpson_bp
        |FROM d ORDER BY doc_id""".stripMargin,

    "q155_balance_classes" ->
      """WITH m AS (
        | SELECT min(c) AS min_c FROM (
        |  SELECT label, count(*) AS c FROM embeddings GROUP BY 1)),
        |r AS (
        | SELECT vec_id, CAST(label AS BIGINT) AS label,
        |  row_number() OVER (PARTITION BY label
        |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        | FROM embeddings)
        |SELECT vec_id, label FROM r, m WHERE rn <= min_c
        |ORDER BY label, vec_id""".stripMargin,

    "q156_split_leakage" ->
      """WITH s AS (
        | SELECT doc_id, text,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
        |        THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
        |        THEN 'val'
        |       ELSE 'test' END AS split
        | FROM documents),
        |t AS (
        | SELECT doc_id, split, string_split(lower(text), ' ') AS toks
        | FROM s WHERE len(string_split(lower(text), ' ')) >= 8),
        |g AS (
        | SELECT DISTINCT doc_id, split,
        |  array_to_string(toks[i:i+7], ' ') AS ng
        | FROM t, UNNEST(range(1, len(toks) - 6)) AS u(i)),
        |d AS (SELECT ng FROM g GROUP BY ng HAVING count(*) <= 16),
        |gg AS (SELECT g.* FROM g JOIN d USING (ng))
        |SELECT a.doc_id AS train_id, b.doc_id AS eval_id,
        | b.split AS eval_split, CAST(count(*) AS BIGINT) AS n_shared
        |FROM gg a JOIN gg b ON a.ng = b.ng
        |WHERE a.split = 'train' AND b.split <> 'train'
        |GROUP BY 1, 2, 3 ORDER BY train_id, eval_id""".stripMargin,

    "q131_dup_bigram" ->
      """WITH t AS (
        | SELECT doc_id, string_split(lower(text), ' ') AS toks
        | FROM documents),
        |b AS (
        | SELECT doc_id,
        |  CAST(len(toks) - 1 AS BIGINT) AS n_bigrams,
        |  CAST(len(list_distinct(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1]))) AS BIGINT) AS n_distinct
        | FROM t WHERE len(toks) >= 2)
        |SELECT doc_id, n_bigrams,
        | CAST((n_bigrams - n_distinct) * 10000 // n_bigrams AS BIGINT)
        |   AS dup_bp
        |FROM b ORDER BY doc_id""".stripMargin,

    "q132_hapax_share" ->
      """WITH c AS (
        | SELECT source, w, count(*) AS c FROM (
        |  SELECT source, unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents)
        | GROUP BY source, w)
        |SELECT source, CAST(count(*) AS BIGINT) AS vocab,
        | CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        | CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 10000 // count(*)
        |   AS BIGINT) AS hapax_bp
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    // quadratic shingle-pair oracle (same family as q16/q56): exact at
    // the driver's sf0.01 gate; skip in local sf0.1 checks
    "q133_cluster_size_hist" -> (ScaleQ.dedupLabSql + "\n" +
      """SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters
        |FROM (SELECT cluster, CAST(count(*) AS BIGINT) AS sz
        |      FROM lab GROUP BY cluster)
        |GROUP BY sz ORDER BY sz""".stripMargin),

    "q134_gap_median" ->
      """WITH g AS (
        | SELECT user_id,
        |  epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        | FROM events),
        |r AS (
        | SELECT user_id, gap_us,
        |  row_number() OVER (PARTITION BY user_id ORDER BY gap_us) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n
        | FROM g WHERE gap_us IS NOT NULL)
        |SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
        | CAST(gap_us AS BIGINT) AS median_gap_us
        |FROM r WHERE rn = (n + 1) // 2 ORDER BY user_id""".stripMargin,

    // documents are pure printable ASCII (asserted in CorpusQSpec), so
    // byte k == ord(substr(text, k+1, 1)) and the energy sums are exact
    "q136_audio_energy" ->
      """WITH m AS (
        | SELECT doc_id AS media_id, text, length(text) AS len
        | FROM documents WHERE doc_id % 3 = 1 AND length(text) > 0),
        |w AS (SELECT unnest(range(0, 8)) AS widx)
        |SELECT m.media_id, CAST(w.widx AS INTEGER) AS window_idx,
        | CAST((w.widx + 1) * m.len // 8 - w.widx * m.len // 8 AS INTEGER)
        |   AS n_samples,
        | CAST(coalesce(list_sum(list_transform(
        |   range(CAST(w.widx * m.len // 8 AS INTEGER) + 1,
        |         CAST((w.widx + 1) * m.len // 8 AS INTEGER) + 1),
        |   i -> ord(substr(m.text, CAST(i AS INTEGER), 1))
        |      * ord(substr(m.text, CAST(i AS INTEGER), 1)))), 0)
        |   AS BIGINT) AS energy
        |FROM m, w ORDER BY media_id, window_idx""".stripMargin,

    // same ASCII premise as q136/q191: pixel k == ord(substr(text,k+1,1))
    // — the roundtrip is lossless (PNG/gray-palette BMP), so the oracle
    // never sees a codec byte
    "q203_image_decode" ->
      """SELECT doc_id,
        | CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt,
        | CAST(length(text) AS BIGINT) AS width,
        | CAST(1 AS BIGINT) AS height,
        | CAST(list_sum(list_transform(range(1, length(text) + 1),
        |   i -> ord(substr(text, CAST(i AS INTEGER), 1)))) AS BIGINT)
        |   AS pix_sum,
        | CAST(list_sum(list_transform(range(1, length(text) + 1),
        |   i -> i * ord(substr(text, CAST(i AS INTEGER), 1)))) AS BIGINT)
        |   AS pos_checksum
        |FROM documents WHERE doc_id % 3 = 0 AND length(text) > 0
        |ORDER BY doc_id""".stripMargin,

    // sample k == ord(char k)·257 − 32768: the roundtrip is lossless
    // PCM16, so the oracle reconstructs every sample from the text
    "q217_wav_decode" ->
      """SELECT doc_id,
        | CAST(8000 AS BIGINT) AS sample_rate,
        | CAST(length(text) AS BIGINT) AS n_samples,
        | CAST(list_sum(list_transform(range(1, length(text) + 1),
        |   i -> ord(substr(text, CAST(i AS INTEGER), 1)) * 257 - 32768))
        |   AS BIGINT) AS amp_sum,
        | CAST(list_sum(list_transform(range(1, length(text) + 1),
        |   i -> i * (ord(substr(text, CAST(i AS INTEGER), 1)) * 257
        |     - 32768))) AS BIGINT) AS pos_checksum,
        | CAST(list_max(list_transform(range(1, length(text) + 1),
        |   i -> abs(ord(substr(text, CAST(i AS INTEGER), 1)) * 257
        |     - 32768))) AS BIGINT) AS peak_abs
        |FROM documents WHERE doc_id % 3 = 1 AND length(text) > 0
        |ORDER BY doc_id""".stripMargin,

    // frame f, BGR position p: byte == ord(char ((f·45+p) mod len)) —
    // the DIB roundtrip is lossless, so the oracle never sees a
    // container byte; only even frames (the sample) are reported
    "q220_avi_frames" ->
      """WITH d AS (
        | SELECT doc_id, text, length(text) AS len,
        |  3 + doc_id % 3 AS nf
        | FROM documents WHERE doc_id % 3 = 2 AND length(text) > 0),
        |fr AS (
        | SELECT doc_id, text, len, nf, unnest(range(0, nf)) AS f
        | FROM d),
        |px AS (
        | SELECT doc_id, nf, f, text, len, unnest(range(0, 45)) AS p
        | FROM fr WHERE f % 2 = 0),
        |v AS (
        | SELECT doc_id, nf, f, p,
        |  ord(substr(text,
        |   CAST((f * 45 + p) % len + 1 AS INTEGER), 1)) AS v
        | FROM px)
        |SELECT doc_id, CAST(min(nf) AS BIGINT) AS n_frames,
        | CAST(f AS BIGINT) AS frame_idx,
        | CAST(sum(v) AS BIGINT) AS pix_sum,
        | CAST(sum((p + 1) * v) AS BIGINT) AS pos_checksum
        |FROM v GROUP BY doc_id, f
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // same ASCII premise as q136: byte k == ord(substr(text, k+1, 1))
    "q191_image_patchify" ->
      """WITH m AS (
        | SELECT doc_id AS media_id, text, length(text) AS len
        | FROM documents WHERE doc_id % 3 = 0 AND length(text) > 0),
        |p AS (
        | SELECT media_id, text, len,
        |  unnest(range(0, (len + 31) // 32)) AS pidx
        | FROM m)
        |SELECT media_id, CAST(pidx AS INTEGER) AS patch_idx,
        | CAST(least(pidx * 32 + 32, len) - pidx * 32 AS INTEGER)
        |   AS n_bytes,
        | CAST(coalesce(list_sum(list_transform(
        |   range(CAST(pidx * 32 AS INTEGER) + 1,
        |         CAST(least(pidx * 32 + 32, len) AS INTEGER) + 1),
        |   i -> ord(substr(text, CAST(i AS INTEGER), 1)))), 0)
        |   AS BIGINT) AS byte_sum,
        | CAST(coalesce(list_sum(list_transform(
        |   range(CAST(pidx * 32 AS INTEGER) + 1,
        |         CAST(least(pidx * 32 + 32, len) AS INTEGER) + 1),
        |   i -> (i - pidx * 32)
        |      * ord(substr(text, CAST(i AS INTEGER), 1)))), 0)
        |   AS BIGINT) AS pos_checksum
        |FROM p ORDER BY media_id, patch_idx""".stripMargin,

    "q197_vocab_oov" ->
      """WITH tc AS (
        | SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM (
        |  SELECT source, unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents) GROUP BY source, w),
        |v AS (
        | SELECT w FROM (SELECT w, sum(c) AS n FROM tc GROUP BY w)
        | ORDER BY n DESC, w LIMIT 20)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        | CAST(sum(CASE WHEN v.w IS NULL THEN c ELSE 0 END) AS BIGINT)
        |   AS n_oov,
        | CAST(count(CASE WHEN v.w IS NULL THEN 1 END) AS BIGINT)
        |   AS oov_types,
        | CAST(sum(CASE WHEN v.w IS NULL THEN c ELSE 0 END) * 10000
        |   // sum(c) AS BIGINT) AS oov_bp
        |FROM tc LEFT JOIN v ON tc.w = v.w
        |GROUP BY source ORDER BY source""".stripMargin,

    "q195_langid_kappa" -> {
      val langSelects = graft.ops.TextOps.langMarkers.map { case (l, ws) =>
        s"${TextQ.langCountSql(ws)} AS s_$l"
      }.mkString(",\n  ")
      s"""WITH feat AS (
         | SELECT lang, $langSelects FROM documents),
         |lp AS (SELECT lang, ${TextQ.langPredSql} AS pred_lang FROM feat),
         |cells AS (
         | SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS c
         | FROM lp GROUP BY lang, pred_lang),
         |t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
         |ag AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS agree
         | FROM cells WHERE lang = pred_lang),
         |rm AS (SELECT lang, CAST(sum(c) AS BIGINT) AS rc
         | FROM cells GROUP BY lang),
         |cm AS (SELECT pred_lang, CAST(sum(c) AS BIGINT) AS cc
         | FROM cells GROUP BY pred_lang),
         |pe AS (SELECT CAST(coalesce(sum(rc * cc), 0) AS BIGINT) AS pe_n2
         | FROM rm JOIN cm ON rm.lang = cm.pred_lang)
         |SELECT n, agree,
         | CASE WHEN n * n <> pe_n2
         |   THEN (agree * n - pe_n2) * 10000 // (n * n - pe_n2) END
         |  AS kappa_bp
         |FROM t, ag, pe""".stripMargin
    },

    "q137_langid_confusion" -> {
      val langSelects = graft.ops.TextOps.langMarkers.map { case (l, ws) =>
        s"${TextQ.langCountSql(ws)} AS s_$l"
      }.mkString(",\n  ")
      s"""WITH feat AS (
         | SELECT lang, $langSelects FROM documents),
         |lp AS (SELECT lang, ${TextQ.langPredSql} AS pred_lang FROM feat)
         |SELECT lang, pred_lang, count(*) AS n
         |FROM lp GROUP BY lang, pred_lang
         |ORDER BY lang, pred_lang""".stripMargin
    },

    "q138_cooccur_conf" ->
      """WITH dw AS (
        | SELECT DISTINCT doc_id, w FROM (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents)),
        |top AS (
        | SELECT w, CAST(count(*) AS BIGINT) AS df FROM dw GROUP BY w
        | ORDER BY df DESC, w LIMIT 20),
        |f AS (SELECT dw.doc_id, dw.w, top.df FROM dw JOIN top USING (w)),
        |p AS (
        | SELECT a.w AS w_a, b.w AS w_b,
        |  CAST(count(*) AS BIGINT) AS both_df,
        |  max(a.df) AS df_a, max(b.df) AS df_b
        | FROM f a JOIN f b ON a.doc_id = b.doc_id AND a.w < b.w
        | GROUP BY 1, 2)
        |SELECT w_a, w_b, both_df, df_a, df_b,
        | CAST(both_df * 10000 // df_a AS BIGINT) AS conf_bp
        |FROM p ORDER BY w_a, w_b""".stripMargin,

    // the scan plan's oracle, verbatim: posting intersection and full
    // scan must produce the identical ranked page
    "q139_index_search" -> TextQ.oracles("q11_search_rank"),

    // quadratic shingle-pair oracle (q16 family): exact at the driver's
    // sf0.01 gate; skip in local sf0.1 checks
    "q145_dedup_survivorship" -> (ScaleQ.dedupLabSql + "\n" +
      """SELECT d.source, count(*) AS n_docs,
        | CAST(sum(CASE WHEN lab.cluster IS NULL
        |          OR lab.cluster = d.doc_id THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_kept,
        | CAST(sum(CASE WHEN lab.cluster IS NULL
        |          OR lab.cluster = d.doc_id THEN 1 ELSE 0 END)
        |   * 10000 // count(*) AS BIGINT) AS kept_bp
        |FROM documents d LEFT JOIN lab ON d.doc_id = lab.node
        |GROUP BY d.source ORDER BY d.source""".stripMargin),

    "q144_proximity_rank" ->
      """WITH t AS (
        | SELECT doc_id, string_split(lower(text), ' ') AS toks
        | FROM documents),
        |p AS (
        | SELECT doc_id, u['pos'] AS pos, u['w'] AS w FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
        |    i -> struct_pack(pos := i - 1,
        |                     w := toks[CAST(i AS INTEGER)]))) AS u
        |  FROM t)),
        |a AS (SELECT doc_id, pos FROM p WHERE w = 'spark'),
        |b AS (SELECT doc_id, pos FROM p WHERE w = 'join')
        |SELECT a.doc_id,
        | CAST(min(abs(a.pos - b.pos)) + 1 AS BIGINT) AS min_cover
        |FROM a JOIN b USING (doc_id)
        |GROUP BY a.doc_id
        |ORDER BY min_cover, doc_id LIMIT 25""".stripMargin,

    "q140_gap_quantiles" ->
      """WITH g AS (
        | SELECT user_id,
        |  epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        | FROM events),
        |r AS (
        | SELECT user_id, gap_us,
        |  row_number() OVER (PARTITION BY user_id ORDER BY gap_us) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n
        | FROM g WHERE gap_us IS NOT NULL)
        |SELECT user_id, CAST(max(n) AS BIGINT) AS n_gaps,
        | CAST(max(CASE WHEN rn = (n + 3) // 4 THEN gap_us END)
        |   AS BIGINT) AS p25_us,
        | CAST(max(CASE WHEN rn = (n + 1) // 2 THEN gap_us END)
        |   AS BIGINT) AS p50_us,
        | CAST(max(CASE WHEN rn = (n * 19 + 19) // 20 THEN gap_us END)
        |   AS BIGINT) AS p95_us
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q141_attribution" ->
      """WITH w AS (
        | SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
        |  last_value(CASE WHEN event_type = 'click' THEN event_id END
        |    IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_id,
        |  last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END
        |    IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_us
        | FROM events)
        |SELECT event_id AS purchase_id, user_id,
        | CASE WHEN click_us IS NOT NULL AND us - click_us <= 604800000000
        |      THEN click_id END AS click_id,
        | CASE WHEN click_us IS NOT NULL AND us - click_us <= 604800000000
        |      THEN us - click_us END AS gap_us
        |FROM w WHERE event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin,

    "q143_bpe_encode" ->
      """WITH dw AS (
        | SELECT doc_id, w, count(*) AS c FROM (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents)
        | GROUP BY doc_id, w),
        |v AS (SELECT DISTINCT w FROM dw),
        |e AS (
        | SELECT w, CAST(length(w) AS BIGINT) AS n_chars,
        |  CAST(len(string_split(trim(
        |    replace(replace(replace(replace(replace(replace(
        |      ' ' || array_to_string(list_transform(
        |        range(1, length(w) + 1),
        |        i -> substr(w, CAST(i AS INTEGER), 1)), ' ') || ' ',
        |      ' t h ', ' th '), ' h e ', ' he '), ' i n ', ' in '),
        |      ' e r ', ' er '), ' a n ', ' an '), ' th e ', ' the ')),
        |    ' ')) AS BIGINT) AS n_sub
        | FROM v)
        |SELECT dw.doc_id, CAST(sum(dw.c * e.n_chars) AS BIGINT) AS n_chars,
        | CAST(sum(dw.c * e.n_sub) AS BIGINT) AS n_bpe,
        | CAST(sum(dw.c * e.n_sub) * 10000 // sum(dw.c * e.n_chars)
        |   AS BIGINT) AS compression_bp
        |FROM dw JOIN e USING (w)
        |GROUP BY dw.doc_id
        |HAVING sum(dw.c * e.n_chars) >= 1
        |ORDER BY dw.doc_id""".stripMargin,

    "q142_custdist" ->
      """WITH pc AS (
        | SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        | FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        | GROUP BY c.c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM pc GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q135_source_vocab_jaccard" ->
      """WITH v AS (
        | SELECT DISTINCT source, w FROM (
        |  SELECT source, unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents)),
        |s AS (
        | SELECT source, CAST(count(*) AS BIGINT) AS sz
        | FROM v GROUP BY source),
        |i AS (
        | SELECT a.source AS src_a, b.source AS src_b,
        |  CAST(count(*) AS BIGINT) AS inter
        | FROM v a JOIN v b ON a.w = b.w AND a.source < b.source
        | GROUP BY 1, 2)
        |SELECT src_a, src_b, inter,
        | CAST(inter * 10000 // (sa.sz + sb.sz - inter) AS BIGINT)
        |   AS jaccard_bp
        |FROM i JOIN s sa ON sa.source = i.src_a
        |JOIN s sb ON sb.source = i.src_b
        |ORDER BY src_a, src_b""".stripMargin,

    // i is 1-based (DuckDB-local); the mixer uses i-1 to match the
    // engine's 0-based positions, mask_pos_sum reports 1-based = i.
    "q184_mlm_mask" ->
      """WITH d AS (
        | SELECT doc_id, string_split(lower(text), ' ') AS tks
        | FROM documents),
        |e AS (
        | SELECT doc_id, unnest(range(1, len(tks) + 1)) AS i, tks
        | FROM d),
        |mk AS (
        | SELECT doc_id, i, len(tks[i]) AS tklen,
        |  ((doc_id * 48271 + (i - 1) * 16807 + 12345) % 2147483647)
        |    * 48271 % 2147483647 % 20 < 3 AS masked
        | FROM e)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        | CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_masked,
        | CAST(sum(CASE WHEN masked THEN i ELSE 0 END) AS BIGINT)
        |   AS mask_pos_sum,
        | CAST(sum(CASE WHEN masked THEN tklen ELSE 0 END) AS BIGINT)
        |   AS mask_chars
        |FROM mk GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same mixer replay as q184; XOR via <> on booleans
    "q222_private_counts" ->
      """WITH r AS (
        | SELECT source, lang = 'en' AS t,
        |  (lang = 'en') <>
        |   ((doc_id * 48271 + 12345) % 2147483647
        |     * 48271 % 2147483647 % 4 = 0) AS rep
        | FROM documents),
        |g AS (
        | SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS true_en,
        |  CAST(sum(CASE WHEN rep THEN 1 ELSE 0 END) AS BIGINT) AS noisy_en
        | FROM r GROUP BY source)
        |SELECT source, n_docs, true_en, noisy_en,
        | 4 * noisy_en - n_docs AS est_times2,
        | 4 * noisy_en - n_docs - 2 * true_en AS err_times2
        |FROM g ORDER BY source""".stripMargin,

    "q260_blocklist_hits" ->
      """WITH h AS (
        | SELECT source,
        |  CAST(len(list_filter(string_split(lower(text), ' '),
        |    x -> x IN ('slow', 'hash', 'scan', 'merge'))) AS BIGINT) AS hits
        | FROM documents)
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_flagged,
        | CAST(sum(hits) AS BIGINT) AS total_hits,
        | CAST(CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS HUGEINT)
        |   * 10000 // count(*) AS BIGINT) AS flagged_bp
        |FROM h GROUP BY source ORDER BY source""".stripMargin,

    // truth from the id arithmetic; the engine must rediscover it by
    // parsing the JSON it was handed
    "q261_chat_schema_gate" ->
      """SELECT CASE doc_id % 4 WHEN 2 THEN 'missing_role'
        |  WHEN 3 THEN 'empty_content' WHEN 1 THEN 'bad_alternation'
        |  ELSE 'ok' END AS violation,
        | count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_checksum
        |FROM documents GROUP BY 1 ORDER BY violation""".stripMargin,

    "q262_krippendorff_alpha" ->
      """WITH d AS (
        | SELECT doc_id,
        |  (instr('0123456789abcdef', substr(
        |    md5('r1:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 5 AS a1,
        |  (instr('0123456789abcdef', substr(
        |    md5('r2:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 3 AS b
        | FROM documents),
        |r AS (
        | SELECT doc_id, CAST(a1 AS BIGINT) AS a1,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN (a1 + 1 + b) % 5
        |       ELSE a1 END AS BIGINT) AS a2
        | FROM d),
        |o AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_units,
        |  CAST(2 * sum((a1 - a2) * (a1 - a2)) AS BIGINT) AS do_num
        | FROM r),
        |h AS (
        | SELECT v, CAST(count(*) AS BIGINT) AS nc FROM (
        |  SELECT a1 AS v FROM r UNION ALL SELECT a2 FROM r) GROUP BY v),
        |e AS (
        | SELECT CAST(sum(a.nc * b.nk * (a.v - b.k) * (a.v - b.k))
        |   AS BIGINT) AS de_num
        | FROM h a, (SELECT v AS k, nc AS nk FROM h) b)
        |SELECT o.n_units, o.do_num, e.de_num,
        | 10000 - CAST(CAST(o.do_num AS HUGEINT)
        |   * (2 * o.n_units - 1) * 10000 // e.de_num AS BIGINT) AS alpha_bp
        |FROM o, e""".stripMargin,
  )
}
