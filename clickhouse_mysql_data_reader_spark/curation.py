"""End-to-end training-data curation pipeline: the product-level API
that composes the operator surface into the standard pretraining prep
flow. Each stage is one of the individually oracle-checked operators;
this module only wires them together, so the composition inherits their
verified semantics and their 100 TB plan shapes.

Stage order follows the usual cost/selectivity logic — cheap per-row
gates first (quality, repetition: scan-stage expression work), then the
keyed stages (exact dedup: one fingerprint-keyed window; near-dup:
LSH-bucketed, never all-pairs; decontamination: broadcast semi-join,
corpus never shuffled), then mixture shaping and sequence packing on
the survivors. Every
decision is a pure function of document content/ids: re-running the
pipeline — or retrying any stage — reproduces byte-identical output.

No reference counterpart (reference delegates analytics to ClickHouse);
this is the BASELINE.json north-star surface composed end-to-end.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clickhouse_mysql_data_reader_spark.operators.dedup import (
    containment_pairs,
    containment_prefix_candidates,
    content_fingerprint,
    corpus_contamination,
    cross_prefix_candidates,
    jaccard_pairs,
    jaccard_prefix_candidates,
    lsh_candidate_pairs,
    minhash_signatures,
    prefix_shingles,
    shingle_table,
)
from clickhouse_mysql_data_reader_spark.operators.graph import (
    component_summary,
    connected_components,
)
from clickhouse_mysql_data_reader_spark.operators.sampling import (
    hash_bucket,
    hex_threshold_expr,
    mixture_sample,
    pack_sequences,
)
from clickhouse_mysql_data_reader_spark.operators.text import (
    gate_columns,
    token_count,
)
from clickhouse_mysql_data_reader_spark.util import overlap_jobs


@dataclass(frozen=True)
class CurationConfig:
    """Knobs for the end-to-end pipeline; defaults follow the published
    heuristics (Gopher repetition flags, 0.8-Jaccard near-dup merges)."""

    min_quality_score: float = 0.2
    # opt-in per-source CALIBRATED quality gate (operators/text.py
    # quality_calibrated): after the raw min_quality_score filter, keep
    # only docs whose quality score sits at or above this percent_rank
    # WITHIN their source — the CCNet/FineWeb per-bucket discipline
    # that stops one raw threshold from zeroing out a stopword-light
    # source. BATCH-ONLY: the rank is corpus-relative (one window
    # shuffle partitioned by quality_source_col), so curate_increment /
    # curate_stream raise if it is set — deploy those modes with
    # quality_thresholds (frozen, stateless) instead. None = off.
    quality_calibrate_pctile: float | None = None
    # frozen per-source minimum scores ((source, min_score), ...) from
    # operators/text.py calibrated_quality_thresholds() over a baseline
    # corpus — the stateless deployment form of the calibrated gate: a
    # scan-stage literal-map lookup, zero joins/shuffles, identical in
    # batch/increment/streaming. Docs from sources ABSENT from the map
    # pass (the raw gates still apply); thresholds for new sources are
    # a baseline-refresh decision, not a silent drop. None = off.
    quality_thresholds: tuple[tuple[str, float], ...] | None = None
    # source column the two calibrated gates read (they run inside the
    # row stages, which otherwise don't touch source)
    quality_source_col: str = "source"
    # opt-in LEAKAGE-SAFE split assignment (operators/sampling.py
    # cluster_safe_split): (("train", 0.8), ("val", 0.1), ...) fractions
    # summing to 1. When set, the result carries ``split_assignments``
    # — (id, component, split) for every FINAL survivor, where the
    # split hashes the near-dup COMPONENT the pipeline ALREADY computed
    # (every edge type curate used: exact-threshold, containment,
    # semantic), so a document and its near-twin can never straddle
    # train and test, and the assignment does not depend on WHICH
    # cluster member the keeper election kept. Singletons hash their
    # own id — a dup-free corpus degenerates to the plain hash_split.
    # In curate_increment / curate_stream (update_state=True) the
    # assignment instead LANDS immutably in the state's `splits` table
    # (read back via state.split_assignments): each kept doc hashes
    # its within-batch component, landed rows never change, and a
    # later near-twin of a landed doc is dropped by history-wins —
    # TRANSITIVELY since round 14: a within-batch component touching
    # history drops entirely (see the hist_touched stage in
    # curate_increment), so even a batch doc connected to a landed doc
    # only through a dropped sibling never survives. Splits are
    # therefore STABLE across daily batches and no near-dup cluster
    # ever straddles train/test. With batch-ordered ids this equals
    # batch-over-concatenation bit-for-bit (parity pinned by test);
    # fractions are pinned in the state's _split_params.json for its
    # lifetime. None = off.
    split_fractions: tuple[tuple[str, float], ...] | None = None
    drop_repetitive: bool = True
    redact_pii: bool = True
    # opt-in Gopher rule filter (operators/text.py gopher_rules, Rae et
    # al. 2021 App. A): word-count/word-length bounds, symbol ratio,
    # bullet/ellipsis line fractions, alphabetic fraction, stopword
    # floor. Inline expression gate — same scan as the quality gate,
    # zero extra shuffles. ``gopher_thresholds`` overrides the paper
    # defaults (keyword names of gopher_rules).
    apply_gopher: bool = False
    gopher_thresholds: dict | None = None
    # opt-in C4 bad-words gate (operators/text.py blocklist_gate,
    # Raffel et al. 2020 §2.2): drop any doc containing one of these
    # tokens (token-boundary match on normalized text). Runs FIRST —
    # it is the cheapest gate with the highest drop rate on web text,
    # so every later stage sees a smaller corpus; pure expression on
    # the scan, zero shuffles, stateless (works identically in batch,
    # increment, and streaming). None/empty = off. The operator's
    # DEFAULT_BLOCKLIST is a starter spam/adult list; production
    # pipelines pass their own.
    blocklist: tuple[str, ...] | None = None
    # opt-in language gate (operators/text.py lang_id_multi): keep only
    # docs whose function-word-density argmax lands in this set;
    # ``lang_drop_mixed`` additionally drops code-switched docs whose
    # runner-up language density nears the winner's (they pollute both
    # per-language buckets). Pure scan-stage expression like the
    # blocklist — stateless, so batch/increment/streaming behave
    # identically. None = off.
    lang_allow: tuple[str, ...] | None = None
    lang_drop_mixed: bool = True
    # opt-in corpus-level boilerplate gate (operators/text.py
    # ngram_boilerplate): drop docs whose shingle coverage by
    # corpus-wide frequent fragments exceeds this (templated
    # headers/footers/licence text). Works in batch `curate()` AND in
    # `curate_increment`, where frequencies = batch counts + landed
    # kept-corpus counts at the batch's shingle keys (the
    # ngram_boilerplate ``extra_counts`` seam — see curate_increment
    # for the exact parity contract). Shares the near-dup stage's
    # shingle PLAN and
    # curate() persists that plan (MEMORY_AND_DISK) while the gate is
    # on — the shingle subtree has three consumers (fragment counts,
    # coverage join-back, MinHash) and would otherwise re-evaluate per
    # consumer. Call ``CurationResult.unpersist()`` after the terminal
    # action to release it. None = off.
    max_boiler_frac: float | None = None
    boiler_min_docs: int = 5
    # opt-in corpus-level LINE dedup (operators/text.py line_dedup, the
    # C4/RefinedWeb boilerplate-line pass): every verbatim-duplicated
    # line keeps only its globally-first occurrence and docs are
    # reassembled before ANY gate runs, so the gates judge the cleaned
    # text and docs reduced to nothing fail the quality gate naturally.
    # Works in batch `curate()` AND in `curate_increment`, which lands
    # surviving line fingerprints in CurationState (`line_fps`) so a
    # line any earlier batch saw is removed from every later batch —
    # with batch-ordered doc ids the increments compose to exactly the
    # batch run over the concatenated corpus (pinned by test). Costs
    # the operator's three skew-proof shuffles + one id-keyed join to
    # restore the non-text columns.
    dedup_lines: bool = False
    line_dedup_min_chars: int = 15
    # unit separator for the dedup_lines stage: '\n' = lines (C4),
    # '\n\n' = paragraphs (RefinedWeb — operators/text.py
    # paragraph_dedup semantics inside the pipeline). Like
    # line_dedup_min_chars, it defines what a landed line_fps
    # fingerprint MEANS, so it must stay constant for one
    # CurationState's lifetime in increment/streaming mode.
    line_dedup_sep: str = "\n"
    # opt-in WITHIN-doc cleaner (operators/text.py
    # collapse_repeated_lines): collapse consecutive duplicate lines
    # (scraper nav/header stutter) before any gate scores the text.
    # Pure per-row expression — zero shuffles, and unlike dedup_lines
    # it needs no corpus state, so it runs in the incremental and
    # streaming paths too.
    collapse_lines: bool = False
    # opt-in LM quality gate (operators/text.py lm_surprisal): drop docs
    # whose mean inverse token probability vs the BATCH's own unigram
    # distribution exceeds this (gibberish / off-distribution text).
    # None = gate off, zero extra cost. Enabling adds an ANTI-join
    # against the over-threshold set (docs the scorer produced no row
    # for — zero tokens — survive), and the gated lineage feeds the
    # scorer's several plan subtrees, so each action re-runs the cheap
    # expression gates a few times — persist/checkpoint the input
    # yourself if its upstream is expensive.
    max_surprisal: float | None = None
    # opt-in: score the LM gate with the stupid-backoff BIGRAM model
    # (operators/text.py lm_surprisal_bigram) instead of the unigram —
    # same threshold semantics, additionally punishes scrambled/
    # unnatural word order. Only read when max_surprisal is set.
    lm_bigram: bool = False
    # opt-in trained quality classifier gate (operators/classifier.py,
    # the GPT-3/PaLM linear filter): (weights, bias) from
    # train_quality_classifier; docs with sigmoid probability below
    # min_quality_prob are dropped. Pure expression gate — rides the
    # same scan as the heuristic gates, zero joins/shuffles. None = off.
    classifier_model: tuple | None = None
    min_quality_prob: float = 0.5
    near_dup_jaccard: float = 0.8
    # opt-in: generate near-dup candidates with the EXACT AllPairs
    # prefix filter (operators/dedup.py jaccard_prefix_candidates)
    # instead of banded MinHash-LSH. LSH recall is probabilistic — a
    # duplicate pair whose bands never collide is silently kept, and
    # the miss rate at the threshold is set by the S-curve, not by the
    # data — while the prefix filter provably emits a superset of
    # every pair with Jaccard >= near_dup_jaccard, so the dedup is
    # exact. Costs the frequency-ordering shuffles instead of the
    # signature aggregation; the prefix is floor(((1-t)/(1+t))|A|)+2
    # rarest shingles (~11% of each doc at t=0.8). In curate_increment
    # the state must be prefix-enabled: construct CurationState with
    # jaccard_exact_threshold=near_dup_jaccard so write() lands each
    # batch's AllPairs prefixes — the exact cross-history candidate
    # source (on a pre-prefix landed state, backfill once with
    # state.ensure_prefixes).
    near_dup_exact: bool = False
    # opt-in SECOND near-dup edge type: exact n-gram CONTAINMENT
    # (|A∩B|/min(|A|,|B|), Broder 1997) at this threshold, candidates
    # from AllPairs prefix filtering (operators/dedup.py
    # containment_prefix_candidates — exact, never all-pairs). Catches
    # the sub-document duplicates the Jaccard threshold systematically
    # keeps: a truncated/excerpted copy of a long doc has containment
    # ~1.0 but Jaccard far below near_dup_jaccard (the intersection is
    # divided by the LONG doc's union). Edges from both metrics are
    # unioned before connected components, so a truncated copy merges
    # into its original's component and the keeper policy ("longest"
    # keeps the untruncated one) resolves it. In curate_increment the
    # state must be prefix-enabled (CurationState
    # containment_threshold=near_dup_containment) and history always
    # wins: a NEW truncated copy of a landed doc drops, but a landed
    # truncated copy also suppresses a longer original arriving later
    # (first-wins — the increment keeper semantics documented under
    # near_dup_keeper). None = off.
    near_dup_containment: float | None = None
    # keeper policy for the near-dup merge: "min_id" keeps each
    # component's smallest doc id (the classic deterministic label);
    # "longest" keeps the member with the greatest text length (ties ->
    # min id) via operators/graph.component_keepers — production passes
    # prefer it because the longest copy is usually the least-truncated
    # one. CONTENT-LOSS HAZARD with near_dup_containment: a containment
    # edge merges a truncated copy into its original's component, and
    # "min_id" then elects whichever member has the smaller id — if
    # that's the truncated copy, the longer original is DROPPED, the
    # exact loss the containment edge exists to prevent. curate()
    # therefore warns on the combination; set "longest" (or a
    # score-based component_keepers call) when containment is on. In curate_increment the policy governs the WITHIN-BATCH
    # component stage only; the vs-history half is inherently
    # FIRST-WINS (the landed corpus is immutable — an already-landed
    # keeper cannot be displaced by a longer member arriving in a later
    # batch), so under "longest" the increments match batch-over-
    # concatenation exactly on a history-free state and keep the
    # first-landed member across batches.
    near_dup_keeper: str = "min_id"
    # opt-in THIRD near-dup edge type: embedding-cosine (semantic)
    # near-dup at this threshold, candidates from SRP-LSH banding
    # (operators/similarity.py srp_band_table / near_dup_pairs_srp —
    # Charikar 2002 sign-random-projection, quantizer-free: the
    # hyperplanes are md5-derived from (seed, bit, dim), so bands
    # written by one session join against any other's). Catches the
    # duplicates no shingle metric can: paraphrases, translations
    # re-encoded to the same embedding, templated rewrites — the
    # semantic layer modern pipelines (SemDeDup, Abbas et al. 2023)
    # run AFTER lexical dedup. Docs must carry ``embed_col`` (an
    # array<float/double> of length ``embed_dim``); candidates are
    # verified with the exact rounded cosine, so banding can only
    # LOSE pairs, never invent them. Edges union with the lexical
    # ones before connected components, exactly like containment. In
    # ``curate_increment`` the state must be embed-enabled (construct
    # CurationState with matching embed_* parameters): write() then
    # lands each kept batch's SRP bands AND embedding vectors, and
    # later batches drop semantic dups of history via a band
    # bucket-join + exact-cosine verify against the landed vectors —
    # per-batch cost, history text/vectors never re-derived. None = off.
    embed_near_cos: float | None = None
    embed_col: str = "embedding"
    # SRP geometry — must be set (dim) / must match the landed state's
    # manifest in increments (all four; a mismatch means band values
    # that can never collide, i.e. silently missed semantic dups)
    embed_dim: int | None = None
    embed_bits: int = 32
    embed_srp_bands: int = 4
    embed_seed: str = "srp"
    # opt-in FOURTH near-dup edge type: image perceptual-hash (dHash)
    # near-dup at this Hamming budget, candidates from Manku pigeonhole
    # banding (operators/multimodal.py image_dhash +
    # operators/dedup.py simhash_near_pairs — the text simhash
    # machinery on the image modality, never all-pairs). Catches the
    # duplicates no text metric can: the same image re-encoded,
    # resized, or metadata-stripped attached to different captions.
    # Docs must carry ``image_col`` (binary; NULL = no image — those
    # rows simply contribute no image edge) and an integral id (the
    # Arrow fingerprint schema pins BIGINT ids, like the media
    # operators). Edges union with the lexical/semantic ones before
    # connected components, exactly like containment. The decode seam
    # is injectable (``image_decode_fn`` — Pillow thumbnails in
    # production, the deterministic md5-blocked fake when None); the
    # fingerprint frame is persisted/checkpointed inside the pipeline
    # so the decode runs ONCE per batch, not once per join side (the
    # image_near_dup_pairs ``sigs=`` discipline). In
    # ``curate_increment`` the state must be image-enabled (construct
    # CurationState with matching image_* parameters): write() then
    # lands each kept batch's (doc_id, dhash) fingerprints in
    # ``image_fps``, and later batches drop image near-dups of history
    # via a chunk bucket-join against the landed longs — the media
    # bytes of history are never re-read and the decode never re-runs.
    # Budget guidance: candidate pruning collapses at high budgets
    # (48 bits at hamming 7 prunes only ~8.5x vs all-pairs) — check
    # operators/dedup.py hamming_chunk_stats / max_hamming_budget
    # before a large pass (<= 5 at the default 48 bits). None = off.
    image_near_hamming: int | None = None
    image_col: str = "image"
    image_grid_w: int = 7
    image_grid_h: int = 8
    image_decode_fn: Callable | None = None
    # identity tag for the decoder, pinned in the state manifest so a
    # silently swapped decoder (whose fingerprints would never match
    # the landed ones) is caught loudly; defaults to the fake's tag
    # when image_decode_fn is None, else "custom" — production passes
    # an explicit version tag
    image_decoder_tag: str | None = None
    # opt-in FIFTH near-dup edge type: audio energy-contour near-dup
    # at this Hamming budget — the image edge type's exact mirror on
    # the audio modality (operators/multimodal.py audio_energy_hash:
    # n_windows per-clip energies through the injectable seam,
    # n_windows - 1 quieter-than-next difference bits in one BIGINT,
    # Manku pigeonhole banding). Docs carry ``audio_col`` (binary;
    # NULL = no clip). In ``curate_increment`` the state must be
    # audio-enabled (CurationState audio_n_windows + decoder tag);
    # write() then lands (doc_id, ahash) in ``audio_fps`` and later
    # batches probe history via the chunk bucket-join — landed longs
    # only, clip bytes never re-read. Same budget guidance as the
    # image edge (hamming_chunk_stats; <= 5 at the default 48 bits).
    # None = off.
    audio_near_hamming: int | None = None
    audio_col: str = "audio"
    audio_n_windows: int = 49
    audio_decode_fn: Callable | None = None
    audio_decoder_tag: str | None = None
    # opt-in SIXTH near-dup edge type: video sampled-frame matching
    # (operators/multimodal.py video_frame_hashes /
    # video_near_dup_pairs) — clips whose sampled-frame dHash SETS
    # share at least ``video_min_matching`` distinct hashes merge.
    # Docs carry ``video_col`` (binary; NULL = no clip) AND
    # ``video_duration_col`` (BIGINT milliseconds — frame sampling
    # needs the clip length, which real corpora store as metadata; a
    # NULL/zero duration means no frames, like a NULL clip). Unlike
    # the one-long image/audio fingerprints the video fingerprint is a
    # SET of frame hashes, so the history probe is a frame-level
    # equi-join against the landed ``video_fps`` rows + a per-pair
    # match count — the shingle-table shape, never banding.
    # ``video_max_frame_df`` drops ubiquitous frames (black/logo
    # stop-frames) before pairing — in the batch-side edge stage AND
    # (round 14) in the history probe, where the document frequency is
    # computed over the batch UNION the landed frame sets so a frame
    # rare in a small increment but ubiquitous in history is still
    # capped. None = off.
    video_min_matching: int | None = None
    video_col: str = "video"
    video_duration_col: str = "video_ms"
    video_every_ms: int = 1000
    video_grid_w: int = 7
    video_grid_h: int = 8
    video_decode_fn: Callable | None = None
    video_decoder_tag: str | None = None
    video_max_frame_df: int | None = None
    contamination_threshold: float = 0.5
    # decontamination policy when `benchmark` is given: "drop_docs"
    # removes any corpus doc whose shingle overlap with a benchmark
    # item crosses contamination_threshold (corpus_contamination);
    # "excise_spans" instead cuts every `contamination_window`-token
    # span colliding with the benchmark out of the doc and keeps the
    # unique remainder (operators/text.py span_decontaminate — the
    # GPT-3 13-gram move; surgical when eval items are QUOTED inside
    # otherwise-good documents). ONLY docs with at least one colliding
    # span are rewritten — their remainder is rebuilt from normalized
    # tokens (lowercased, whitespace-joined, like the line-dedup stage
    # rebuilds from lines); every collision-free doc keeps its raw
    # text verbatim.
    contamination_mode: str = "drop_docs"
    contamination_window: int = 13
    # mixture shaping is optional: None keeps every surviving source whole
    mixture_weights: dict[str, float] | None = None
    mixture_token_budget: int = 0
    mixture_default_weight: float = 0.0
    # opt-in: realize mixture rates ABOVE 1 by replicating documents
    # (operators/sampling.py mixture_oversample — the multi-epoch
    # upweighting of small high-quality sources). The mixed frame then
    # carries a copy_no column, and packing orders on the
    # (id, copy_no) composite so every replica gets its own slot.
    # Batch curate() only (a per-batch view can't see corpus-wide
    # source totals); with it off, rates cap at 1 (down-only).
    mixture_epochs: bool = False
    pack_budget: int = 128
    pack_shards: int = 8
    # operators/dedup.py optimal_lsh_bands(minhash_k, near_dup_jaccard)
    # picks the band count minimizing integrated S-curve error at the
    # Jaccard threshold — a driver-side helper, deliberately not called
    # implicitly (incremental states pin these values at first landing,
    # so a silent re-derivation under a changed default would brick
    # every existing state's parameter check)
    minhash_k: int = 16
    lsh_bands: int = 4

    @classmethod
    def with_tuned_lsh(
        cls, num_hashes: int = 16, fp_weight: float = 0.5, **kw
    ) -> "CurationConfig":
        """Config with ``lsh_bands`` chosen by the S-curve tuner
        (operators/dedup.py ``optimal_lsh_bands``) for the config's own
        ``near_dup_jaccard`` threshold — the principled alternative to
        hand-picking the band count: the tuner minimizes the weighted
        integral of false-positive mass (verify-stage cost) below the
        threshold and false-negative mass (missed duplicates) above it
        over the divisors of ``num_hashes``. ``fp_weight`` toward 1
        when the exact-Jaccard verify is the cost center, toward 0 when
        recall is the product requirement.

        LANDED-STATE CAVEAT (why the tuner is never auto-applied): an
        incremental/streaming ``CurationState`` pins (minhash_k,
        lsh_bands) in its on-disk manifest at first write — band hashes
        derived with different parameters can NEVER match the landed
        ones, so re-tuning an EXISTING state's bands silently kills its
        cross-history near-dup detection (the write path rejects the
        mismatch loudly). Tune ONCE, before the first batch lands, and
        construct every later ``CurationState`` with the same values:

            cfg = CurationConfig.with_tuned_lsh(near_dup_jaccard=0.8)
            state = CurationState(dir_, minhash_k=cfg.minhash_k,
                                  lsh_bands=cfg.lsh_bands)
        """
        if "lsh_bands" in kw or "minhash_k" in kw:
            raise ValueError(
                "with_tuned_lsh picks lsh_bands (and minhash_k = "
                "num_hashes) itself — pass num_hashes=/fp_weight= to "
                "steer it, or construct CurationConfig directly"
            )
        from clickhouse_mysql_data_reader_spark.operators.dedup import (
            optimal_lsh_bands,
        )

        threshold = kw.get("near_dup_jaccard", cls.near_dup_jaccard)
        return cls(
            minhash_k=num_hashes,
            lsh_bands=optimal_lsh_bands(num_hashes, threshold, fp_weight),
            **kw,
        )

    def __post_init__(self) -> None:
        # See the near_dup_keeper comment: containment edges exist to
        # merge truncated copies into their originals so "longest" can
        # keep the untruncated one — under "min_id" the truncated copy
        # wins whenever its id is smaller, silently losing content.
        # Warn (not raise): min_id remains a valid deterministic label
        # for pipelines that post-process components themselves.
        if self.near_dup_containment is not None and self.near_dup_keeper == "min_id":
            import warnings

            warnings.warn(
                "near_dup_containment with near_dup_keeper='min_id' can "
                "elect a truncated copy as keeper and drop the longer "
                "original — the content loss the containment edge is "
                "meant to prevent. Set near_dup_keeper='longest'.",
                UserWarning,
                stacklevel=2,
            )
        if self.embed_near_cos is not None and self.embed_dim is None:
            raise ValueError(
                "embed_near_cos needs embed_dim: the SRP hyperplanes are "
                "a function of the vector dimensionality, and a landed "
                "incremental state pins it in its manifest"
            )
        if self.embed_near_cos is not None and self.embed_bits % self.embed_srp_bands:
            raise ValueError(
                f"embed_bits={self.embed_bits} not divisible by "
                f"embed_srp_bands={self.embed_srp_bands}"
            )
        if self.image_near_hamming is not None:
            bits = self.image_grid_h * (self.image_grid_w - 1)
            if self.image_near_hamming < 0:
                raise ValueError(
                    f"image_near_hamming must be >= 0, got "
                    f"{self.image_near_hamming}"
                )
            if bits % (self.image_near_hamming + 1):
                raise ValueError(
                    f"dHash bit width {bits} (grid {self.image_grid_w}x"
                    f"{self.image_grid_h}) not divisible into "
                    f"{self.image_near_hamming + 1} pigeonhole chunks; "
                    "pick a hamming budget h with bits % (h+1) == 0"
                )
        if self.audio_near_hamming is not None:
            bits = self.audio_n_windows - 1
            if self.audio_near_hamming < 0 or self.audio_n_windows < 2:
                raise ValueError(
                    f"need audio_near_hamming >= 0 and audio_n_windows >= 2; "
                    f"got {self.audio_near_hamming}, {self.audio_n_windows}"
                )
            if bits % (self.audio_near_hamming + 1):
                raise ValueError(
                    f"energy-hash bit width {bits} "
                    f"(n_windows={self.audio_n_windows}) not divisible into "
                    f"{self.audio_near_hamming + 1} pigeonhole chunks; "
                    "pick a hamming budget h with bits % (h+1) == 0"
                )
        if self.video_min_matching is not None:
            if self.video_min_matching < 1:
                raise ValueError(
                    f"video_min_matching must be >= 1, got "
                    f"{self.video_min_matching}"
                )
            if self.video_every_ms < 1:
                raise ValueError(
                    f"video_every_ms must be >= 1, got {self.video_every_ms}"
                )
        if self.quality_calibrate_pctile is not None and not (
            0.0 <= self.quality_calibrate_pctile <= 1.0
        ):
            raise ValueError(
                "quality_calibrate_pctile is a percent_rank cut and must "
                f"be in [0, 1]; got {self.quality_calibrate_pctile}"
            )
        if self.quality_thresholds is not None:
            # accept JSON-shaped lists from the CLI's --curation-config
            # ([["web", 0.3], ...]) as well as tuples
            for entry in self.quality_thresholds:
                if (
                    len(entry) != 2
                    or not isinstance(entry[0], str)
                    or not isinstance(entry[1], (int, float))
                ):
                    raise ValueError(
                        "quality_thresholds entries must be (source, "
                        f"min_score) pairs; got {entry!r}"
                    )
        if self.split_fractions is not None:
            # same JSON-friendly shape discipline as quality_thresholds
            for entry in self.split_fractions:
                if (
                    len(entry) != 2
                    or not isinstance(entry[0], str)
                    or not isinstance(entry[1], (int, float))
                ):
                    raise ValueError(
                        "split_fractions entries must be (split_name, "
                        f"fraction) pairs; got {entry!r}"
                    )
            total = sum(f for _, f in self.split_fractions)
            if abs(total - 1.0) > 1e-9:
                raise ValueError(
                    f"split_fractions must sum to 1, got {total}"
                )


@dataclass
class CurationResult:
    """Lazy handles on every stage — nothing is executed until the
    caller acts on a frame, so computing only ``packed`` runs one job."""

    quality_gated: DataFrame
    after_exact_dedup: DataFrame
    near_dup_components: DataFrame
    after_near_dedup: DataFrame
    after_decontamination: DataFrame
    after_mixture: DataFrame
    packed: DataFrame
    # (id, component, split) for every final survivor when
    # cfg.split_fractions is set (None otherwise) — the leakage-safe
    # split keyed on the pipeline's own near-dup components
    split_assignments: DataFrame | None = None
    stage_frames: dict[str, DataFrame] = field(default_factory=dict)
    # frames curate() persisted on the caller's behalf (currently: the
    # shared shingle frame when the boilerplate gate is on). The CALLER
    # owns the lifecycle — call unpersist() after the terminal action.
    persisted_frames: list[DataFrame] = field(default_factory=list)

    def stage_counts(self) -> dict[str, int]:
        """Materialize per-stage survivor counts (one job per stage —
        diagnostic use, not the hot path)."""
        return {name: df.count() for name, df in self.stage_frames.items()}

    def unpersist(self) -> None:
        """Release every frame curate() persisted for this result.
        Idempotent; call after the last action on the result's frames
        so a long-lived session doesn't accumulate cached relations."""
        for df in self.persisted_frames:
            df.unpersist()


def _row_stages(
    docs: DataFrame,
    cfg: CurationConfig,
    text_col: str,
    id_col: str,
    calibrate: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Stages 1-3 (shared by full and incremental curation):

    1. per-row quality + repetition gates — gate_columns attaches both
       inline (shared expression helpers with the oracle-checked
       queries): one scan, zero shuffles, not a join of the frame-level
       operators back on id (which would shuffle the corpus per gate);
    2. PII scrub, inline on the text column;
    3. exact dedup via a fingerprint-keyed window (keeper = min id):
       ONE shuffle, vs groupBy-then-join-back's two.
    """
    if cfg.collapse_lines:
        # per-row cleaner FIRST: gates then score the cleaned text;
        # rides the same scan (one in-row array fold, no shuffle)
        from clickhouse_mysql_data_reader_spark.operators.text import (
            collapse_repeated_lines,
        )

        docs = docs.withColumn(text_col, collapse_repeated_lines(F.col(text_col)))

    if cfg.blocklist:
        # C4 bad-words gate FIRST (Raffel et al. 2020 §2.2): the
        # cheapest test with the highest drop rate on web text, so
        # every later stage sees a smaller corpus. Token-boundary
        # matching via the same expression core as the oracle-checked
        # text_blocklist_gate query (operators/text.py blocklist_gate)
        # — one in-row array fold on the scan, zero shuffles.
        from clickhouse_mysql_data_reader_spark.operators.text import (
            blocklist_pass_expr,
        )

        gated_in = docs.filter(blocklist_pass_expr(F.col(text_col), cfg.blocklist))
    else:
        gated_in = docs

    if cfg.lang_allow:
        # language gate next (still scan-stage, zero shuffles): keep
        # the allowlisted argmax languages, optionally dropping
        # mixed-language docs (operators/text.py lang_id_multi)
        from clickhouse_mysql_data_reader_spark.operators.text import lang_id_multi

        lid = lang_id_multi(F.col(text_col))
        keep = lid["lang"].isin(*cfg.lang_allow)
        if cfg.lang_drop_mixed:
            keep = keep & ~lid["is_mixed"]
        gated_in = gated_in.filter(keep)

    gate = gate_columns(gated_in, text_col)
    gated = gate.filter(F.col("quality_score") >= cfg.min_quality_score)
    if cfg.quality_calibrate_pctile is not None and calibrate:
        # per-source calibrated gate, window form (batch mode only —
        # callers that can't pay a corpus-relative rank pass
        # calibrate=False and raise on the knob before reaching here).
        # Runs on the raw-gate survivors: derive frozen thresholds
        # from the same population for exact parity.
        if cfg.quality_source_col not in gated.columns:
            raise ValueError(
                f"quality_calibrate_pctile needs a "
                f"{cfg.quality_source_col!r} column; got {docs.columns}"
            )
        from pyspark.sql import Window as W

        # threshold-based cut (the calibrated_quality_thresholds
        # construction): kept = score >= min score clearing the
        # percent_rank cut, falling back to the source minimum when no
        # row clears it — single-doc and all-tied sources (every row at
        # percent_rank 0) are KEPT whole instead of dropped whole, and
        # the window form keeps exactly what the frozen form keeps
        w_src = W.partitionBy(cfg.quality_source_col).orderBy("quality_score")
        w_all = W.partitionBy(cfg.quality_source_col)
        thr = F.coalesce(
            F.min(
                F.when(
                    F.col("_pr") >= cfg.quality_calibrate_pctile,
                    F.col("quality_score"),
                )
            ).over(w_all),
            F.min("quality_score").over(w_all),
        )
        gated = (
            gated.withColumn("_pr", F.percent_rank().over(w_src))
            .withColumn("_thr", thr)
            .filter(F.col("quality_score") >= F.col("_thr"))
            .drop("_pr", "_thr")
        )
    if cfg.quality_thresholds:
        # frozen form: literal-map lookup on the scan, zero shuffles —
        # identical semantics in batch/increment/streaming. Sources
        # absent from the map pass (see the config comment).
        if cfg.quality_source_col not in gated.columns:
            raise ValueError(
                f"quality_thresholds needs a "
                f"{cfg.quality_source_col!r} column; got {docs.columns}"
            )
        thr_map = F.create_map(
            *[
                F.lit(x)
                for src, thr in cfg.quality_thresholds
                for x in (src, float(thr))
            ]
        )
        thr = thr_map.getItem(F.col(cfg.quality_source_col))
        gated = gated.filter(thr.isNull() | (F.col("quality_score") >= thr))
    if cfg.drop_repetitive:
        gated = gated.filter(~F.col("flag_repetitive"))
    gated = gated.select(*docs.columns)

    if cfg.apply_gopher:
        # rule gate rides the same scan (expression-only, no shuffle);
        # placed after the statistical gates so both report through
        # stage_counts the way a pipeline operator orders its drops
        from clickhouse_mysql_data_reader_spark.operators.text import (
            gopher_gate_columns,
        )

        gated = (
            gopher_gate_columns(gated, text_col, **(cfg.gopher_thresholds or {}))
            .filter(F.col("pass_gopher"))
            .select(*docs.columns)
        )

    if cfg.classifier_model is not None:
        # trained-classifier gate rides the same scan as the heuristic
        # gates (quality_prob_col is one inline expression — no join);
        # ordered before the LM gate so the corpus-level scorer only
        # sees classifier survivors
        from clickhouse_mysql_data_reader_spark.operators.classifier import (
            quality_prob_col,
        )

        cw, cb = cfg.classifier_model
        gated = gated.filter(
            quality_prob_col(F.col(text_col), list(cw), float(cb))
            >= F.lit(float(cfg.min_quality_prob))
        )

    if cfg.max_surprisal is not None:
        # LM gate AFTER the cheap expression gates (score survivors
        # only). Self-referenced: the batch's own unigram distribution
        # is the reference, so off-distribution/gibberish docs score
        # high. Inherently corpus-level (needs the reference counts),
        # so unlike the inline gates this is a join, phrased as a
        # LEFT-ANTI against the over-threshold DROP set: docs with zero
        # tokens have no surprisal row and therefore SURVIVE (the gate
        # only drops what it scored; the quality gate owns empty docs).
        # The gated lineage feeds four plan subtrees (totals, count
        # join side, token side, anti probe), so each action re-runs
        # the expression gates a few times. Deliberately NOT persisted
        # here: an internal persist has no release point (this frame is
        # a lazy intermediate — batch callers never see it, and a
        # streaming epoch would leak one cache entry per trigger for
        # the session's lifetime). The re-run cost is scan+regex per
        # subtree; callers with an expensive upstream should persist or
        # checkpoint the INPUT frame, whose lifecycle they own.
        from clickhouse_mysql_data_reader_spark.operators.text import (
            lm_surprisal,
            lm_surprisal_bigram,
        )

        _scorer = lm_surprisal_bigram if cfg.lm_bigram else lm_surprisal
        drop_lm = (
            _scorer(gated, gated, text_col=text_col, id_col=id_col)
            .filter(F.col("surprisal") > cfg.max_surprisal)
            .select(F.col("doc_id").alias(id_col))
        )
        gated = gated.join(drop_lm, id_col, "left_anti")

    if cfg.redact_pii:
        from clickhouse_mysql_data_reader_spark.operators.text import (
            EMAIL_RE,
            PHONE_RE,
        )

        # case-insensitive match on the ORIGINAL-case text: redaction
        # must not mutate surviving content beyond the redacted spans
        # (lowercasing here would propagate into the packed output)
        scrubbed = F.regexp_replace(
            F.regexp_replace(F.col(text_col), "(?i)" + EMAIL_RE, "[EMAIL]"),
            PHONE_RE,
            "[PHONE]",
        )
        gated = gated.withColumn(text_col, scrubbed)

    from pyspark.sql import Window as W

    w_fp = W.partitionBy("_fp").orderBy(F.col(id_col).asc())
    exact = (
        gated.withColumn("_fp", content_fingerprint(F.col(text_col)))
        .withColumn("_rn", F.row_number().over(w_fp))
        .filter(F.col("_rn") == 1)
        .drop("_fp", "_rn")
    )
    return gated, exact


def _near_dup_drop_ids(
    comps: DataFrame,
    survivors: DataFrame,
    cfg: CurationConfig,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Non-keeper member ids of each near-dup component under the
    configured keeper policy — shared by batch ``curate`` and BOTH
    ``curate_increment`` component stages (bootstrap and within-batch),
    so the policies cannot drift. Every component member must appear in
    ``survivors`` (it does: components are built from the post-gate
    shingle table of the same frame). Both branches are one map-side-
    combinable aggregate on the component key plus one join back —
    never a window."""
    if cfg.near_dup_keeper == "longest":
        from clickhouse_mysql_data_reader_spark.operators.graph import (
            component_keepers,
        )

        return (
            component_keepers(
                comps,
                survivors.select(
                    F.col(id_col).alias("doc_id"),
                    F.length(F.col(text_col)).alias("_len"),
                ),
                "_len",
            )
            .filter(~F.col("is_keeper"))
            .select(F.col("doc_id").alias(id_col))
        )
    if cfg.near_dup_keeper == "min_id":
        return (
            comps.join(component_summary(comps), "component")
            .filter(F.col("doc_id") != F.col("keeper_id"))
            .select(F.col("doc_id").alias(id_col))
        )
    raise ValueError(
        f"unknown near_dup_keeper {cfg.near_dup_keeper!r}: "
        "expected 'min_id' or 'longest'"
    )


def _near_dup_edge_set(
    sh: DataFrame,
    cfg: CurationConfig,
    sigs: DataFrame | None = None,
    sorted_arrays: DataFrame | None = None,
) -> DataFrame:
    """Within-relation near-dup EDGES under cfg's candidate policy —
    shared by batch ``curate``, the increment BOOTSTRAP, and the
    increment's WITHIN-BATCH stage, so the three cannot drift on what
    counts as a duplicate pair: Jaccard edges from banded MinHash-LSH
    (default) or the exact AllPairs prefix filter (``near_dup_exact``),
    optionally unioned with exact containment edges
    (``near_dup_containment``). ``sigs``: precomputed MinHash
    signatures (the increment lands bands from the same frame — don't
    aggregate twice); ``sorted_arrays``: the shared rarest-first
    relation when the caller persists it for multiple prefix slices."""
    if cfg.near_dup_exact:
        cands = jaccard_prefix_candidates(
            sh, min_jaccard=cfg.near_dup_jaccard, sorted_arrays=sorted_arrays
        )
    else:
        if sigs is None:
            sigs = minhash_signatures(sh, num_hashes=cfg.minhash_k)
        cands = lsh_candidate_pairs(
            sigs, num_hashes=cfg.minhash_k, bands=cfg.lsh_bands
        )
    edges = jaccard_pairs(
        sh, candidates=cands, min_jaccard=cfg.near_dup_jaccard
    ).select("doc_a", "doc_b")
    if cfg.near_dup_containment is not None:
        c_cands = containment_prefix_candidates(
            sh,
            min_containment=cfg.near_dup_containment,
            sorted_arrays=sorted_arrays,
        )
        c_pairs = containment_pairs(
            sh, candidates=c_cands, min_containment=cfg.near_dup_containment
        )
        edges = edges.unionByName(c_pairs.select("doc_a", "doc_b")).distinct()
    return edges


def _cos_verified(
    cand: DataFrame, left_vecs: DataFrame, right_vecs: DataFrame, threshold: float
) -> DataFrame:
    """Exact-cosine verify of (doc_a, doc_b) SRP band candidates against
    (vid, v) vector relations — the same ``round(cosine, 6) >=
    threshold`` decision as operators/similarity.py
    ``near_dup_pairs_srp`` (equality pinned by test), factored out so
    the within-batch and vs-history verifies of ``curate_increment``
    share one formula with the batch path. Banding can only LOSE
    pairs; every emitted edge passed the exact test. Norms are
    precomputed per ROW (operators/similarity.py cosine_n — the folds
    are interpreted, so per-pair work is the single dot fold;
    bit-identical to the per-pair cosine)."""
    from clickhouse_mysql_data_reader_spark.operators.similarity import (
        cosine_n,
        l2_norm,
    )

    return (
        cand.join(
            left_vecs.select(
                F.col("vid").alias("doc_a"),
                F.col("v").alias("_va"),
                l2_norm(F.col("v")).alias("_na"),
            ),
            "doc_a",
        )
        .join(
            right_vecs.select(
                F.col("vid").alias("doc_b"),
                F.col("v").alias("_vb"),
                l2_norm(F.col("v")).alias("_nb"),
            ),
            "doc_b",
        )
        .filter(
            F.round(
                cosine_n(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")), 6
            )
            >= F.lit(float(threshold))
        )
        .select("doc_a", "doc_b")
    )


def _semantic_edge_set(
    docs: DataFrame,
    cfg: CurationConfig,
    id_col: str,
    vecs: DataFrame | None = None,
    bands: DataFrame | None = None,
) -> DataFrame:
    """Within-relation SEMANTIC (embedding-cosine) near-dup edges under
    cfg's SRP geometry — the third edge type ``embed_near_cos``
    enables, shared by batch ``curate``, the increment BOOTSTRAP, and
    the increment's within-batch stage so the three cannot drift on
    what counts as a semantic duplicate. Candidates from SRP-LSH band
    collisions (operators/similarity.py ``srp_band_table`` — Charikar
    2002 sign-random-projection; md5-derived hyperplanes, so bands are
    session-independent), verified with the exact rounded cosine.
    Result equals ``near_dup_pairs_srp(...).select(doc_a, doc_b)``
    (pinned by test); the optional ``vecs``/``bands`` args let the
    increment reuse its checkpointed projections instead of re-running
    the gate plan per consumer. 100 TB shape: candidates scale with
    sum(|band bucket|^2), never |corpus|^2 — same banding bound as the
    MinHash-LSH stage."""
    from clickhouse_mysql_data_reader_spark.operators.similarity import (
        as_double_array,
        srp_band_table,
    )

    if vecs is None:
        vecs = docs.select(
            F.col(id_col).alias("vid"), as_double_array(cfg.embed_col).alias("v")
        )
    if bands is None:
        bands = srp_band_table(
            vecs,
            cfg.embed_dim,
            n_bits=cfg.embed_bits,
            n_bands=cfg.embed_srp_bands,
            id_col="vid",
            vec_col="v",
            seed=cfg.embed_seed,
        )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(F.col("a.vid").alias("doc_a"), F.col("b.vid").alias("doc_b"))
        .distinct()
    )
    return _cos_verified(cand, vecs, vecs, cfg.embed_near_cos)


def _decoder_tag(decode_fn, explicit: str | None) -> str:
    """The decoder-identity string pinned in a media-fingerprint state
    manifest (image, audio, and video alike): a fingerprint landed by
    one decoder can never match another's, so a silent decoder swap
    must fail loudly like any geometry mismatch. An injected decoder
    therefore REQUIRES an explicit tag — defaulting every custom
    decoder to one shared label would let two different production
    decoders pass the manifest check, the exact hazard the tag
    exists to catch."""
    if explicit is not None:
        return explicit
    if decode_fn is not None:
        raise ValueError(
            "an injected media decode_fn needs an explicit decoder tag "
            "(e.g. image_decoder_tag='pillow-v10') — the tag is pinned "
            "in the state's _*_params.json so fingerprints landed by a "
            "DIFFERENT decoder can never silently match"
        )
    return "md5-blocked-fake"


_INTEGRAL_ID_TYPES = ("tinyint", "smallint", "int", "bigint")


def _require_integral_id(docs: DataFrame, id_col: str, modality: str) -> None:
    """The media-fingerprint tables key on BIGINT doc ids (the landed
    state's schema); a non-integral id column would ``cast('long')``
    to NULL silently and the whole edge type would quietly find
    nothing — raise loudly instead, like every other misconfiguration
    (a schema check, no job runs)."""
    dtype = dict(docs.dtypes).get(id_col)
    if dtype not in _INTEGRAL_ID_TYPES:
        raise ValueError(
            f"the {modality} near-dup edge keys its fingerprint state "
            f"on BIGINT doc ids, but column {id_col!r} is {dtype!r} — "
            "cast (or map) ids to an integral type first; a silent "
            "cast would NULL every media_id and the edge would match "
            "nothing"
        )


def _image_sigs(
    docs: DataFrame,
    id_col: str,
    image_col: str,
    grid_w: int,
    grid_h: int,
    decode_fn: Callable | None,
) -> DataFrame:
    """(doc_id, dhash) perceptual fingerprints for the image-bearing
    rows of a corpus frame — shared by batch ``curate``, both
    ``curate_increment`` stages, and the ``image`` side table so the
    four can never fingerprint differently. NULL-image rows are
    excluded BEFORE the decode: under the deterministic fake every
    NULL would hash to the same 'image' and the whole imageless corpus
    would collapse into one bogus near-dup component."""
    from clickhouse_mysql_data_reader_spark.operators.multimodal import (
        image_dhash,
    )

    _require_integral_id(docs, id_col, "image")
    media = docs.filter(F.col(image_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col(image_col).alias("content"),
    )
    return image_dhash(
        media, decode_fn=decode_fn, grid_w=grid_w, grid_h=grid_h
    ).select(F.col("media_id").alias("doc_id"), "dhash")


def _image_edge_set(sigs: DataFrame, cfg: CurationConfig) -> DataFrame:
    """Within-relation image near-dup edges from a fingerprint frame —
    Manku pigeonhole banding + exact Hamming verify, the text simhash
    machinery (operators/dedup.py simhash_near_pairs) over the dHash
    longs. The caller persists/checkpoints ``sigs`` (both self-join
    sides read it), so the decode runs once per batch."""
    from clickhouse_mysql_data_reader_spark.operators.dedup import (
        simhash_near_pairs,
    )

    bits = cfg.image_grid_h * (cfg.image_grid_w - 1)
    return simhash_near_pairs(
        sigs,
        bits=bits,
        hamming_max=cfg.image_near_hamming,
        id_col="doc_id",
        sig_col="dhash",
    ).select("doc_a", "doc_b")


def _audio_sigs(
    docs: DataFrame,
    id_col: str,
    audio_col: str,
    n_windows: int,
    decode_fn: Callable | None,
) -> DataFrame:
    """(doc_id, ahash) energy-contour fingerprints for the audio-bearing
    rows — ``_image_sigs``' exact mirror on the audio modality (same
    NULL-exclusion rationale: the fake would hash every NULL clip to
    one fingerprint and collapse the clipless corpus into a bogus
    component)."""
    from clickhouse_mysql_data_reader_spark.operators.multimodal import (
        audio_energy_hash,
    )

    _require_integral_id(docs, id_col, "audio")
    media = docs.filter(F.col(audio_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit("audio").alias("kind"),
        F.col(audio_col).alias("content"),
    )
    return audio_energy_hash(
        media, decode_fn=decode_fn, n_windows=n_windows
    ).select(F.col("media_id").alias("doc_id"), "ahash")


def _audio_edge_set(sigs: DataFrame, cfg: CurationConfig) -> DataFrame:
    """Within-relation audio near-dup edges — ``_image_edge_set``'s
    mirror over the energy-contour longs; the caller persists or
    checkpoints ``sigs`` so the decode runs once per batch."""
    from clickhouse_mysql_data_reader_spark.operators.dedup import (
        simhash_near_pairs,
    )

    return simhash_near_pairs(
        sigs,
        bits=cfg.audio_n_windows - 1,
        hamming_max=cfg.audio_near_hamming,
        id_col="doc_id",
        sig_col="ahash",
    ).select("doc_a", "doc_b")


def _video_sigs(
    docs: DataFrame,
    id_col: str,
    cfg: CurationConfig,
) -> DataFrame:
    """Distinct (doc_id, fhash) sampled-frame fingerprints for the
    video-bearing rows — the SET-valued fingerprint of the video edge
    type (one row per distinct frame hash per clip, the shingle-table
    shape). NULL clips and NULL/zero durations yield no rows."""
    from clickhouse_mysql_data_reader_spark.operators.multimodal import (
        video_frame_hashes,
    )

    _require_integral_id(docs, id_col, "video")
    media = docs.filter(
        F.col(cfg.video_col).isNotNull()
        & (F.coalesce(F.col(cfg.video_duration_col), F.lit(0)) > 0)
    ).select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit("video").alias("kind"),
        F.col(cfg.video_col).alias("content"),
        F.struct(
            F.lit(None).cast("string").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.col(cfg.video_duration_col).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    return (
        video_frame_hashes(
            media,
            every_ms=cfg.video_every_ms,
            decode_fn=cfg.video_decode_fn,
            grid_w=cfg.video_grid_w,
            grid_h=cfg.video_grid_h,
        )
        .select(F.col("media_id").alias("doc_id"), "fhash")
        .distinct()
    )


def _video_edge_set(fset: DataFrame, cfg: CurationConfig) -> DataFrame:
    """Within-relation video near-dup edges from a distinct
    (doc_id, fhash) frame set — operators/multimodal.py
    ``video_near_dup_pairs``' pairing core through its ``sigs=`` seam
    (the caller checkpoints/persists ``fset`` so the decode ran
    once)."""
    from clickhouse_mysql_data_reader_spark.operators.multimodal import (
        video_near_dup_pairs,
    )

    return video_near_dup_pairs(
        media=None,
        min_matching_frames=cfg.video_min_matching,
        max_frame_df=cfg.video_max_frame_df,
        sigs=fset.select(F.col("doc_id").alias("media_id"), "fhash"),
    ).select("doc_a", "doc_b")


def _video_hot_frames(
    fset_new: DataFrame, hist: DataFrame, cfg: CurationConfig
) -> DataFrame | None:
    """Frame hashes whose document frequency over the UNION of the
    batch's and the landed frame sets exceeds ``cfg.video_max_frame_df``
    — the increment-time form of the stop-frame guard (black frames,
    studio logos). The union is distinct-per-(doc, frame) first so a
    replayed epoch (whose docs already landed) cannot double-count its
    own frames' df. One narrow aggregate over longs; returns ``None``
    when no cap is configured. Both inputs must already be
    (doc_id, fhash)-distinct."""
    if cfg.video_max_frame_df is None:
        return None
    return (
        fset_new.select("doc_id", "fhash")
        .unionByName(hist.select("doc_id", "fhash"))
        .distinct()
        .groupBy("fhash")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > cfg.video_max_frame_df)
        .select("fhash")
    )


def _video_hist_drop(
    fset_new: DataFrame,
    hist_fps: DataFrame,
    cfg: CurationConfig,
    hot: DataFrame | None = None,
) -> DataFrame:
    """Batch docs that are video near-dups of HISTORY: frame-level
    equi-join of the batch's distinct frame hashes against the landed
    (doc_id, fhash) rows, per-(new, hist) match count, threshold —
    the set-intersection analogue of ``simhash_near_pairs_cross``.
    Returns one column of new-doc ids to drop (history wins).
    Replayed-epoch duplicate rows in the landed table are collapsed
    before counting (a duplicate frame row must not double-count one
    match).

    ``cfg.video_max_frame_df`` — the stop-frame guard the within-batch
    edge applies (operators/multimodal.py ``video_near_dup_pairs``) —
    is enforced here too, with the document frequency computed over the
    UNION of the batch's and the landed frame sets: a frame rare in a
    small increment but ubiquitous in history (a black frame, a studio
    logo) must not (a) make this equi-join quadratic in its history-side
    df, nor (b) count toward ``video_min_matching`` when the batch-curate
    of the same corpus would have dropped it before pairing
    (``_video_hot_frames``). ``hot=`` lets the increment pass its
    already-checkpointed hot set so the union aggregate runs once per
    batch."""
    hist = hist_fps.select("doc_id", "fhash").dropDuplicates(
        ["doc_id", "fhash"]
    )
    new = fset_new.select("doc_id", "fhash")
    if cfg.video_max_frame_df is not None:
        if hot is None:
            hot = _video_hot_frames(new, hist, cfg)
        new = new.join(hot, "fhash", "left_anti")
        hist = hist.join(hot, "fhash", "left_anti")
    return (
        new.alias("n")
        .join(hist.alias("h"), F.col("n.fhash") == F.col("h.fhash"))
        .groupBy(
            F.col("n.doc_id").alias("doc_a"),
            F.col("h.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("_m"))
        .filter(F.col("_m") >= cfg.video_min_matching)
        .select("doc_a")
        .distinct()
    )


def _split_assignment_frame(
    survivors: DataFrame,
    comps: DataFrame,
    fractions,
    id_col: str,
) -> DataFrame:
    """(id, component, split) for the survivors — the leakage-safe
    split keyed on the pipeline's OWN near-dup components (all edge
    types), shared by batch ``curate`` and both ``curate_increment``
    stages so the assignment arithmetic cannot drift. Survivors absent
    from the graph (singletons) hash their own id; the component label
    is the min member id (``connected_components``' convention), so
    the assignment is keeper-invariant: it does not depend on WHICH
    cluster member the keeper election kept."""
    from clickhouse_mysql_data_reader_spark.operators.sampling import (
        hash_split,
    )

    return (
        survivors.select(id_col)
        .distinct()
        .join(
            comps.select(F.col("doc_id").alias(id_col), "component"),
            id_col,
            "left",
        )
        .withColumn("component", F.coalesce("component", F.col(id_col)))
        .withColumn("split", hash_split(F.col("component"), dict(fractions)))
    )


def _decontamination_stage(
    deduped: DataFrame,
    benchmark: DataFrame | None,
    cfg: CurationConfig,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Benchmark decontamination under the configured mode — shared by
    batch ``curate`` (stage 5) and ``curate_increment`` so the two
    paths cannot drift. The stage is a pure per-doc function of
    (doc text, benchmark): it never consults corpus state, so applying
    it per batch composes to exactly the batch-over-concatenation
    result. The benchmark side is always the broadcast small side; the
    corpus is scanned, never shuffled on content."""
    if benchmark is None:
        return deduped
    if cfg.contamination_mode == "excise_spans":
        # surgical form: cut benchmark-colliding spans, keep the rest
        # of the doc
        from clickhouse_mysql_data_reader_spark.operators.text import (
            span_decontaminate,
        )

        excised = span_decontaminate(
            deduped,
            benchmark,
            text_col=text_col,
            id_col=id_col,
            window=cfg.contamination_window,
        )
        # only docs that actually collided get the normalized-token
        # rebuild; everything else keeps its raw text verbatim (the
        # excision is surgical, not a corpus-wide lossy rewrite)
        touched = excised.filter(F.col("n_dropped") > 0).select(
            id_col, F.col(text_col).alias("_excised_text")
        )
        return (
            deduped.join(touched, id_col, "left")
            .withColumn(
                text_col, F.coalesce(F.col("_excised_text"), F.col(text_col))
            )
            .drop("_excised_text")
        )
    if cfg.contamination_mode == "drop_docs":
        # corpus docs contaminated BY benchmark content leave; the
        # corpus-side operator broadcasts the BENCHMARK's shingles (the
        # small side)
        contam = corpus_contamination(
            corpus=deduped,
            benchmark=benchmark,
            text_col=text_col,
            id_col=id_col,
            flag_threshold=cfg.contamination_threshold,
        )
        leaky = contam.filter(F.col("flag_contaminated")).select(
            F.col("doc_id").alias(id_col)
        )
        return deduped.join(leaky, id_col, "left_anti")
    raise ValueError(
        f"unknown contamination_mode {cfg.contamination_mode!r}: "
        "expected 'drop_docs' or 'excise_spans'"
    )


def curate(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    cfg: CurationConfig = CurationConfig(),
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> CurationResult:
    """Run the full curation flow over a corpus of (id, source, text).

    ``benchmark`` (optional) is the held-out eval set to decontaminate
    against: corpus documents whose shingles cover >= threshold of any
    overlap are NOT dropped (contamination drops eval items, not corpus
    docs) — instead the corpus is checked the other direction: any
    corpus doc that is a near-verbatim copy of a benchmark doc is
    removed so eval answers don't leak into training.
    """
    if cfg.embed_near_cos is not None and cfg.embed_col not in docs.columns:
        raise ValueError(
            f"embed_near_cos={cfg.embed_near_cos} needs an "
            f"{cfg.embed_col!r} column (array<float/double>, length "
            f"{cfg.embed_dim}) on the corpus; got {docs.columns}"
        )
    if cfg.image_near_hamming is not None and cfg.image_col not in docs.columns:
        raise ValueError(
            f"image_near_hamming={cfg.image_near_hamming} needs an "
            f"{cfg.image_col!r} binary column on the corpus (NULL for "
            f"imageless rows); got {docs.columns}"
        )
    if cfg.audio_near_hamming is not None and cfg.audio_col not in docs.columns:
        raise ValueError(
            f"audio_near_hamming={cfg.audio_near_hamming} needs an "
            f"{cfg.audio_col!r} binary column on the corpus (NULL for "
            f"clipless rows); got {docs.columns}"
        )
    if cfg.video_min_matching is not None and (
        cfg.video_col not in docs.columns
        or cfg.video_duration_col not in docs.columns
    ):
        raise ValueError(
            f"video_min_matching={cfg.video_min_matching} needs "
            f"{cfg.video_col!r} (binary) and {cfg.video_duration_col!r} "
            f"(BIGINT ms) columns on the corpus; got {docs.columns}"
        )
    if cfg.dedup_lines:
        # stage 0 (optional): corpus-level line dedup BEFORE the gates —
        # gates then score the cleaned text, and a doc whose every line
        # was removed fails the quality gate like any other empty doc.
        # line_dedup returns the reassembled text only; the id-keyed
        # join restores the caller's other columns (its build side ends
        # in a groupBy(doc_id), so the join reuses that partitioning).
        from clickhouse_mysql_data_reader_spark.operators.text import line_dedup

        cleaned = line_dedup(
            docs, text_col, id_col,
            min_line_chars=cfg.line_dedup_min_chars, sep=cfg.line_dedup_sep,
        ).select(id_col, text_col)
        docs = docs.drop(text_col).join(cleaned, id_col)

    gated, exact = _row_stages(docs, cfg, text_col, id_col, calibrate=True)

    from pyspark import StorageLevel

    persisted: list[DataFrame] = []
    # Persist the post-gates survivors ONCE (round 15; previously only
    # under dedup_lines): `exact` forks into the shingle
    # materialization, the vector/media edge frames, the keeper
    # election's text reads and the boiled -> packed chain — without a
    # cache the row gates (and with dedup_lines the three line
    # shuffles) re-run from the scan per consumer. Spill-safe,
    # released by the caller via CurationResult.unpersist() like the
    # shingle frame.
    exact = exact.persist(StorageLevel.MEMORY_AND_DISK)
    persisted.append(exact)

    # --- stage 3b: corpus-level boilerplate gate (optional) -----------
    # BEFORE near-dup: templated docs would otherwise form giant
    # near-dup components (every doc sharing the template is a
    # candidate pair). Shares the shingle PLAN with the LSH stage — but
    # a shared plan is not a shared evaluation: the shingle relation
    # ALWAYS has multiple consumers — MinHash signatures plus the
    # verify core's three reads (sizes + both join sides) in every
    # config, the boilerplate gate's fragment counts + coverage
    # join-back when on, and the prefix-filter paths (containment edge
    # type and/or exact Jaccard candidates) add four more (frequency
    # agg, prefix build, probe side, verify core). One unconditional
    # persist (the r15 ADVICE collapse of two exhaustive branches);
    # caller-owned lifecycle via CurationResult.persisted_frames /
    # .unpersist(), same contract as jaccard_pairs' storage parameter.
    sh = shingle_table(exact, text_col, id_col, partition_by_id=True).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    persisted.append(sh)
    boiled = exact
    prefix_paths_on = cfg.near_dup_containment is not None or cfg.near_dup_exact
    if cfg.max_boiler_frac is not None:
        from clickhouse_mysql_data_reader_spark.operators.text import (
            ngram_boilerplate,
        )

        cov = ngram_boilerplate(
            exact, text_col, id_col, min_docs=cfg.boiler_min_docs, shingles=sh
        )
        boiler_drop = cov.filter(
            F.col("boiler_frac") > cfg.max_boiler_frac
        ).select(F.col("doc_id").alias(id_col))
        boiled = exact.join(boiler_drop, id_col, "left_anti")
        sh = sh.join(
            boiler_drop.select(F.col(id_col).alias("doc_id")), "doc_id", "left_anti"
        )
        if prefix_paths_on:
            # the POST-filter sh now feeds the same 4-6 prefix/verify
            # consumers; only the pre-filter frame is cached above, so
            # without this each consumer re-runs the coverage subtree
            # plus the anti-join shuffle
            sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
            persisted.append(sh)

    # --- stage 4: near-dup merge (candidates -> Jaccard -> components)
    # candidate generation: banded MinHash-LSH (probabilistic recall,
    # cheapest) or the exact AllPairs prefix filter (near_dup_exact —
    # provably no missed pair); both feed the same exact Jaccard verify
    sorted_arr = None
    if cfg.near_dup_exact and cfg.near_dup_containment is not None:
        from pyspark import StorageLevel

        from clickhouse_mysql_data_reader_spark.operators.dedup import (
            rarest_sorted_shingles,
        )

        # both prefix forms slice the SAME rarest-first array — compute
        # its two heavy shuffles (frequency agg + per-doc collect) once
        sorted_arr = rarest_sorted_shingles(sh).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        persisted.append(sorted_arr)
    # candidate policy + optional containment edge type: the shared
    # helper (also the increments' within-batch stage). Containment
    # edges exist because banded LSH under-recalls truncated-copy
    # pairs (collision probability tracks JACCARD, low by construction
    # for short-inside-long); the union feeds one components pass and
    # distinct() only shuffles the pair relation, many orders smaller
    # than the corpus.
    edges = _near_dup_edge_set(sh, cfg, sorted_arrays=sorted_arr)
    if cfg.embed_near_cos is not None:
        # THIRD edge type: embedding-cosine (semantic) near-dups via
        # SRP-LSH banding + exact-cosine verify — paraphrases and
        # rewrites no shingle metric can see (SemDeDup, Abbas et al.
        # 2023 run this AFTER lexical dedup; here the edge types union
        # into ONE components pass, so a paraphrase chain and a
        # truncation chain touching the same doc merge). Computed over
        # the post-boilerplate survivors, same relation the lexical
        # edges see. The (id, vector) frame has three consumers (band
        # table + both verify joins) — persist it so the gate chain
        # upstream of `boiled` runs once, not three times (the shingle
        # frame's discipline; caller-owned release via unpersist()).
        from pyspark import StorageLevel

        from clickhouse_mysql_data_reader_spark.operators.similarity import (
            as_double_array,
        )

        vecs_sem = boiled.select(
            F.col(id_col).alias("vid"), as_double_array(cfg.embed_col).alias("v")
        ).persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(vecs_sem)
        edges = edges.unionByName(
            _semantic_edge_set(boiled, cfg, id_col, vecs=vecs_sem)
        ).distinct()
    if cfg.image_near_hamming is not None:
        # FOURTH edge type: image perceptual-hash near-dups — dHash
        # over the injectable decode seam, Manku pigeonhole banding
        # (the text simhash machinery on the image modality). Computed
        # over the post-boilerplate survivors like every other edge
        # type. The fingerprint frame is PERSISTED: the banding
        # self-join consumes it on both sides and Spark plans a lazy
        # mapInPandas decode subtree per side (no ReusedExchange for
        # Python subtrees) — the cache makes the decode run once, the
        # image_near_dup_pairs ``sigs=`` discipline inside the
        # pipeline. Caller-owned release via unpersist(), like the
        # shingle/vector frames.
        from pyspark import StorageLevel

        sigs_img = _image_sigs(
            boiled, id_col, cfg.image_col, cfg.image_grid_w,
            cfg.image_grid_h, cfg.image_decode_fn,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(sigs_img)
        edges = edges.unionByName(_image_edge_set(sigs_img, cfg)).distinct()
    if cfg.audio_near_hamming is not None:
        # FIFTH edge type: audio energy-contour near-dups — the image
        # stanza's exact mirror (same persist-the-fingerprints
        # decode-once discipline, same banding machinery over the
        # energy-hash longs)
        from pyspark import StorageLevel

        sigs_aud = _audio_sigs(
            boiled, id_col, cfg.audio_col, cfg.audio_n_windows,
            cfg.audio_decode_fn,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        persisted.append(sigs_aud)
        edges = edges.unionByName(_audio_edge_set(sigs_aud, cfg)).distinct()
    if cfg.video_min_matching is not None:
        # SIXTH edge type: video sampled-frame matching — the frame
        # SET is the fingerprint (shingle-table shape), so the edge is
        # an equi-join on the frame hash + a per-pair match count, not
        # banding; same persist-the-fingerprints decode-once discipline
        from pyspark import StorageLevel

        fset_vid = _video_sigs(boiled, id_col, cfg).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        persisted.append(fset_vid)
        edges = edges.unionByName(_video_edge_set(fset_vid, cfg)).distinct()
    comps = connected_components(edges)
    drop_ids = _near_dup_drop_ids(comps, boiled, cfg, text_col, id_col)
    deduped = boiled.join(drop_ids, id_col, "left_anti")

    # --- stage 5: decontamination vs the benchmark --------------------
    clean = _decontamination_stage(deduped, benchmark, cfg, text_col, id_col)

    # --- stage 6: mixture shaping (optional) --------------------------
    if cfg.mixture_weights is not None and cfg.mixture_epochs:
        # repetition-capable form: rates above 1 replicate docs (the
        # multi-epoch upweighting); the copy_no column makes every
        # replica its own downstream row
        from clickhouse_mysql_data_reader_spark.operators.sampling import (
            mixture_oversample,
        )

        mixed = mixture_oversample(
            clean,
            token_count(F.col(text_col)),
            id_col,
            source_col,
            cfg.mixture_weights,
            cfg.mixture_token_budget,
            default_weight=cfg.mixture_default_weight,
        )
    elif cfg.mixture_weights is not None:
        rates = (
            mixture_sample(
                clean,
                token_count(F.col(text_col)),
                id_col,
                source_col,
                cfg.mixture_weights,
                cfg.mixture_token_budget,
                default_weight=cfg.mixture_default_weight,
            )
            .select(F.col("source").alias(source_col), "rate")
        )
        # the exact keep condition mixture_sample's report counts
        mixed = (
            clean.join(F.broadcast(rates), source_col)
            .filter(
                (F.col("rate") >= 1.0)
                | (
                    hash_bucket(F.col(id_col), "mixture")
                    < hex_threshold_expr(F.col("rate"))
                )
            )
            .drop("rate")
        )
    else:
        mixed = clean

    # --- stage 7: sequence packing ------------------------------------
    if cfg.mixture_epochs and cfg.mixture_weights is not None:
        # replicas share id_col, and pack_sequences' default id-derived
        # layout needs a unique order key — order on the (id, copy_no)
        # composite (unique within the id-derived shard) so every copy
        # gets its own deterministic pack slot
        packed = pack_sequences(
            mixed,
            token_count(F.col(text_col)),
            id_col,
            budget=cfg.pack_budget,
            n_shards=cfg.pack_shards,
            order_col=F.struct(F.col(id_col), F.col("copy_no")),
        )
    else:
        packed = pack_sequences(
            mixed,
            token_count(F.col(text_col)),
            id_col,
            budget=cfg.pack_budget,
            n_shards=cfg.pack_shards,
        )

    # --- optional: leakage-safe split assignments ----------------------
    # Reuses the components ALREADY computed for the keeper stage (all
    # edge types), so the split respects exactly the near-dup graph the
    # pipeline deduped with; survivors absent from the graph
    # (singletons) hash their own id. One extra join over the final
    # survivors — the component frame is bounded by the near-dup
    # population, never the corpus.
    split_assign = None
    if cfg.split_fractions is not None:
        split_assign = _split_assignment_frame(
            mixed, comps, cfg.split_fractions, id_col
        )

    return CurationResult(
        quality_gated=gated,
        after_exact_dedup=exact,
        near_dup_components=comps,
        after_near_dedup=deduped,
        after_decontamination=clean,
        after_mixture=mixed,
        packed=packed,
        split_assignments=split_assign,
        stage_frames={
            "input": docs,
            "quality_gated": gated,
            "after_exact_dedup": exact,
            **(
                {"after_boilerplate": boiled}
                if cfg.max_boiler_frac is not None
                else {}
            ),
            "after_near_dedup": deduped,
            "after_decontamination": clean,
            "after_mixture": mixed,
            "packed": packed,
        },
        persisted_frames=persisted,
    )


def _embed_rows(state, kept: DataFrame, id_col: str) -> dict:
    """Landed vectors + their SRP bands, with the same
    ``srp_band_table`` geometry ``_semantic_edge_set`` probes with."""
    from clickhouse_mysql_data_reader_spark.operators.similarity import (
        as_double_array,
        srp_band_table,
    )

    vecs = kept.select(
        F.col(id_col).alias("doc_id"),
        as_double_array(state.embed_col).alias("v"),
    )
    srp = srp_band_table(
        vecs,
        state.embed_dim,
        n_bits=state.embed_bits,
        n_bands=state.embed_srp_bands,
        id_col="doc_id",
        vec_col="v",
        seed=state.embed_seed,
    ).withColumnRenamed("vid", "doc_id")
    return {"embeddings": vecs, "srp_bands": srp}


def _video_rows(state, kept: DataFrame, id_col: str) -> dict:
    # a minimal cfg view carries the state's pinned geometry
    cfg_view = CurationConfig(
        video_min_matching=1,
        video_col=state.video_col,
        video_duration_col=state.video_duration_col,
        video_every_ms=state.video_every_ms,
        video_grid_w=state.video_grid_w,
        video_grid_h=state.video_grid_h,
        video_decode_fn=state.video_decode_fn,
    )
    return {"video_fps": _video_sigs(kept, id_col, cfg_view)}


@dataclass(frozen=True)
class SideTable:
    """One optional modality of ``CurationState``: the tables its
    cross-history probe reads and what the state needs to land,
    validate and backfill them. Attribute names are shared by the
    ``CurationState`` constructor and ``CurationConfig``."""

    name: str
    # landed tables, in write order
    tables: tuple[str, ...]
    # first-writer-wins manifest of the derivation parameters
    manifest: str
    # (manifest key, state attribute) pairs: the manifest payload
    pinned: tuple[tuple[str, str], ...]
    # state attribute that enables the side when not None
    enabled_by: str
    # cfg field that turns the side's probe on when not None
    cfg_enable: str
    # (cfg field, state attribute) pairs curate_increment compares
    cfg_match: tuple[tuple[str, str], ...]
    # (decode_fn, decoder_tag) attributes, compared as the resolved tag
    decoder: tuple[str, str] | None
    # attributes naming the input columns ``derive`` reads
    inputs: tuple[str, ...]
    # (state, kept, id_col) -> {table: rows}; the signature code the
    # edge stages probe with, so landed rows match a probe's
    derive: Callable

    def enabled(self, state) -> bool:
        return getattr(state, self.enabled_by) is not None

    @property
    def backfill_call(self) -> str:
        return f"backfill({self.name!r}, historical_kept_corpus)"


_SIDES = (
    SideTable(
        name="embed",
        tables=("embeddings", "srp_bands"),
        manifest="_embed_params.json",
        pinned=(
            ("embed_dim", "embed_dim"),
            ("embed_bits", "embed_bits"),
            ("embed_srp_bands", "embed_srp_bands"),
            ("embed_seed", "embed_seed"),
        ),
        enabled_by="embed_dim",
        cfg_enable="embed_near_cos",
        cfg_match=(
            ("embed_dim", "embed_dim"),
            ("embed_bits", "embed_bits"),
            ("embed_srp_bands", "embed_srp_bands"),
            ("embed_seed", "embed_seed"),
            ("embed_col", "embed_col"),
        ),
        decoder=None,
        inputs=("embed_col",),
        derive=_embed_rows,
    ),
    SideTable(
        name="image",
        tables=("image_fps",),
        manifest="_image_params.json",
        pinned=(
            ("image_grid_w", "image_grid_w"),
            ("image_grid_h", "image_grid_h"),
            ("image_decoder", "image_decoder_tag"),
        ),
        enabled_by="image_grid_w",
        cfg_enable="image_near_hamming",
        cfg_match=(
            ("image_grid_w", "image_grid_w"),
            ("image_grid_h", "image_grid_h"),
            ("image_col", "image_col"),
        ),
        decoder=("image_decode_fn", "image_decoder_tag"),
        inputs=("image_col",),
        derive=lambda st, kept, id_col: {
            "image_fps": _image_sigs(
                kept, id_col, st.image_col, st.image_grid_w,
                st.image_grid_h, st.image_decode_fn,
            )
        },
    ),
    SideTable(
        name="audio",
        tables=("audio_fps",),
        manifest="_audio_params.json",
        pinned=(
            ("audio_n_windows", "audio_n_windows"),
            ("audio_decoder", "audio_decoder_tag"),
        ),
        enabled_by="audio_n_windows",
        cfg_enable="audio_near_hamming",
        cfg_match=(
            ("audio_n_windows", "audio_n_windows"),
            ("audio_col", "audio_col"),
        ),
        decoder=("audio_decode_fn", "audio_decoder_tag"),
        inputs=("audio_col",),
        derive=lambda st, kept, id_col: {
            "audio_fps": _audio_sigs(
                kept, id_col, st.audio_col, st.audio_n_windows,
                st.audio_decode_fn,
            )
        },
    ),
    SideTable(
        name="video",
        tables=("video_fps",),
        manifest="_video_params.json",
        pinned=(
            ("video_every_ms", "video_every_ms"),
            ("video_grid_w", "video_grid_w"),
            ("video_grid_h", "video_grid_h"),
            ("video_decoder", "video_decoder_tag"),
        ),
        enabled_by="video_every_ms",
        cfg_enable="video_min_matching",
        cfg_match=(
            ("video_every_ms", "video_every_ms"),
            ("video_grid_w", "video_grid_w"),
            ("video_grid_h", "video_grid_h"),
            ("video_col", "video_col"),
            ("video_duration_col", "video_duration_col"),
        ),
        decoder=("video_decode_fn", "video_decoder_tag"),
        inputs=("video_col", "video_duration_col"),
        derive=_video_rows,
    ),
)


def _side(side: SideTable | str) -> SideTable:
    """A ``_SIDES`` entry from itself or its name."""
    if isinstance(side, SideTable):
        return side
    for s in _SIDES:
        if s.name == side:
            return s
    raise ValueError(
        f"unknown side {side!r}: expected one of {[s.name for s in _SIDES]}"
    )


class CurationState:
    """Landed dedup state of the already-curated corpus: the sidecar
    tables an incremental (daily-batch) pipeline needs to dedup NEW
    documents against everything kept so far WITHOUT recomputing the
    historical corpus. Each table is one plain parquet dir under
    ``state_dir`` (partition/bucket it by its join key at real scale),
    read with ``read(spark, table)``. State grows with the KEPT corpus
    only (dropped docs contribute nothing).

    Core tables, landed by ``write``:

    - ``fingerprints``: (doc_id, fp) md5 content fingerprints (exact dedup)
    - ``bands``:        (doc_id, band_id, band_hash) LSH buckets (near-dup
      candidate generation)
    - ``shingles``:     (doc_id, sh_h) shingle hashes (Jaccard verify)
    - ``prefixes``:     (doc_id, sh_h) AllPairs prefix shingles, only
      when ``jaccard_exact_threshold``/``containment_threshold`` is
      set: the exact candidate source for ``near_dup_exact``/
      ``near_dup_containment`` in increments

    ``curate_increment`` also appends ``line_fps`` (``dedup_lines``)
    and ``splits`` (``split_fractions``).

    Side tables: one ``SideTable`` per modality in ``_SIDES``, each
    switched on by one constructor argument (``side.enabled_by``):
    ``embed`` lands ``embeddings`` + ``srp_bands`` (``embed_dim``),
    ``image`` lands ``image_fps`` (``image_grid_w``), ``audio`` lands
    ``audio_fps`` (``audio_n_windows``) and ``video`` lands
    ``video_fps`` (``video_every_ms``). ``landed(spark, side)`` probes
    a side. Enabling a side on a state with landed batches needs
    ``backfill(side, historical_kept_corpus)`` once: the state keeps
    keys, not content, so the caller supplies the corpus.

    Every row carries an ``(_run, _epoch)`` tag (``("", -1)`` for plain
    batch appends; the stream's run id + foreachBatch epoch id for
    streaming appends). Readers can exclude one (run, epoch)'s rows —
    that is what makes a REPLAYED streaming epoch see exactly the
    pre-epoch history instead of its own first attempt's appends (see
    ``curate_stream``). Epoch ids alone are CHECKPOINT-scoped (a
    restarted stream with a fresh checkpoint restarts at 0), so the
    run id is what keeps one run's exclusion from hiding another run's
    genuine history.

    The parameters the landed tables were derived with are pinned in
    first-writer-wins manifests — ``_params.json`` (MinHash/LSH),
    ``_bloom_params.json``, ``_prefix_params.json`` and one per side
    (``side.manifest``) — and validated on every subsequent write and
    incremental read path: a session that reconstructs
    ``CurationState`` with different parameters would otherwise
    silently find zero cross-history near-dups.
    """

    def __init__(
        self,
        state_dir: str,
        minhash_k: int = 16,
        lsh_bands: int = 4,
        bloom_bits: int | None = None,
        bloom_hashes: int = 7,
        jaccard_exact_threshold: float | None = None,
        containment_threshold: float | None = None,
        embed_dim: int | None = None,
        embed_bits: int = 32,
        embed_srp_bands: int = 4,
        embed_seed: str = "srp",
        embed_col: str = "embedding",
        image_grid_w: int | None = None,
        image_grid_h: int = 8,
        image_col: str = "image",
        image_decode_fn: Callable | None = None,
        image_decoder_tag: str | None = None,
        audio_n_windows: int | None = None,
        audio_col: str = "audio",
        audio_decode_fn: Callable | None = None,
        audio_decoder_tag: str | None = None,
        video_every_ms: int | None = None,
        video_col: str = "video",
        video_duration_col: str = "video_ms",
        video_grid_w: int = 7,
        video_grid_h: int = 8,
        video_decode_fn: Callable | None = None,
        video_decoder_tag: str | None = None,
    ):
        self.state_dir = str(state_dir)
        self.minhash_k = minhash_k
        self.lsh_bands = lsh_bands
        # IMAGE side (cfg.image_near_hamming): ``image_fps`` (doc_id,
        # dhash). Later batches chunk-bucket-join their dHash longs
        # against the landed ones (operators/dedup.py
        # simhash_near_pairs_cross) and the exact Hamming verify runs
        # on the joined longs directly, so unlike the embed side ONE
        # table carries both the candidate and the verify side (8 bytes
        # per image-bearing kept doc). The HAMMING budget is
        # deliberately not pinned: the verify is exact over the landed
        # longs, so a later batch may probe at any budget the bit width
        # divides. ``image_col``/``image_decode_fn`` are derive-time
        # inputs (cosmetic / injectable seam), not manifest state.
        self.image_grid_w = int(image_grid_w) if image_grid_w is not None else None
        self.image_grid_h = int(image_grid_h)
        self.image_col = str(image_col)
        self.image_decode_fn = image_decode_fn
        self.image_decoder_tag = _decoder_tag(
            image_decode_fn, image_decoder_tag
        )
        # AUDIO side (cfg.audio_near_hamming): the image side over
        # energy contours, ``audio_fps`` (doc_id, ahash); the hamming
        # budget is probe-time-free like the image one.
        self.audio_n_windows = (
            int(audio_n_windows) if audio_n_windows is not None else None
        )
        self.audio_col = str(audio_col)
        self.audio_decode_fn = audio_decode_fn
        self.audio_decoder_tag = _decoder_tag(
            audio_decode_fn, audio_decoder_tag
        )
        # VIDEO side (cfg.video_min_matching): ``video_fps`` (doc_id,
        # fhash — one row per DISTINCT sampled-frame hash, the
        # shingle-table shape); probes equi-join the landed rows and
        # count matches per pair. The MATCH THRESHOLD is probe-time-free
        # like the hamming budgets.
        self.video_every_ms = (
            int(video_every_ms) if video_every_ms is not None else None
        )
        self.video_col = str(video_col)
        self.video_duration_col = str(video_duration_col)
        self.video_grid_w = int(video_grid_w)
        self.video_grid_h = int(video_grid_h)
        self.video_decode_fn = video_decode_fn
        self.video_decoder_tag = _decoder_tag(
            video_decode_fn, video_decoder_tag
        )
        # SEMANTIC side (cfg.embed_near_cos): ``srp_bands`` (doc_id,
        # band_idx, band_val) and ``embeddings`` (doc_id, v). Later
        # batches bucket-join their SRP bands against the landed ones
        # and verify with the exact cosine against the landed VECTORS
        # (dim x 8 bytes per kept doc; the price of a no-false-positive
        # verify — bands alone can only propose). The cosine THRESHOLD
        # is deliberately NOT pinned: the verify is exact, so a later
        # batch may probe at any threshold. ``embed_col`` names the
        # vector column on incoming kept frames; cosmetic (the landed
        # table normalizes to ``v``), so not in the manifest.
        self.embed_dim = int(embed_dim) if embed_dim is not None else None
        if self.embed_dim is not None and embed_bits % embed_srp_bands:
            raise ValueError(
                f"embed_bits={embed_bits} not divisible by "
                f"embed_srp_bands={embed_srp_bands}"
            )
        self.embed_bits = int(embed_bits)
        self.embed_srp_bands = int(embed_srp_bands)
        self.embed_seed = str(embed_seed)
        self.embed_col = str(embed_col)
        # Opt-in EXACT near-dup support for increments: when either
        # threshold is set, write() additionally lands a ``prefixes``
        # table — each kept doc's AllPairs prefix shingles
        # (operators/dedup.py prefix_shingles) at the LOOSER of the two
        # enabled fractions — so later batches generate exact cross-
        # history candidates by bucket-joining batch shingles against
        # landed prefixes (and batch prefixes against landed shingles)
        # instead of re-sorting the whole corpus per increment.
        # Storage cost: ~frac of the shingle table on top of it
        # (jaccard t=0.8 -> ~11%, containment t=0.9 -> ~10%); probe
        # cost per increment: one extra scan of the landed shingles +
        # prefixes with the batch side broadcast. The thresholds are
        # pinned in ``_prefix_params.json`` (a prefix landed at frac f
        # is exact for any probe frac <= f, but a SILENT threshold
        # change would land under-length prefixes for future batches —
        # so equality is enforced, like minhash_k/lsh_bands).
        self.jaccard_exact_threshold = (
            float(jaccard_exact_threshold)
            if jaccard_exact_threshold is not None
            else None
        )
        self.containment_threshold = (
            float(containment_threshold) if containment_threshold is not None else None
        )
        # Opt-in incremental Bloom filter over landed fingerprints
        # (operators/membership.py): maintained ON WRITE so
        # curate_increment's history anti-join can route definite-miss
        # rows around the shuffle join without re-scanning history.
        # Size for the EVENTUAL corpus cardinality — the bit width is
        # fixed for the state's lifetime (recorded in _params.json) and
        # an over-full filter degrades to all-maybe (correct, just no
        # speedup). bloom_bits=None disables the filter entirely.
        # Rounded UP to a byte multiple: build_bloom/might_contain
        # reject partial bytes (floor-to-bytes would index past the
        # array), and rounding here is deterministic so every session
        # reconstructing this state lands on the same recorded width.
        self.bloom_bits = ((int(bloom_bits) + 7) // 8) * 8 if bloom_bits else None
        self.bloom_hashes = int(bloom_hashes)

    def _path(self, name: str) -> str:
        return f"{self.state_dir}/{name}"

    @classmethod
    def from_config(cls, cfg: CurationConfig, state_dir: str) -> "CurationState":
        """The state handle a ``curate_increment(cfg=...)`` run needs —
        every ctor parameter derived from the CurationConfig so the
        two cannot drift (each geometry/threshold mismatch below is a
        ValueError in curate_increment; deriving kills the class of
        bug where a caller updates cfg but not the handle). Used by
        the --curate-data CLI verb."""
        kw: dict = dict(minhash_k=cfg.minhash_k, lsh_bands=cfg.lsh_bands)
        if cfg.near_dup_exact:
            kw["jaccard_exact_threshold"] = cfg.near_dup_jaccard
        if cfg.near_dup_containment is not None:
            kw["containment_threshold"] = cfg.near_dup_containment
        for side in _SIDES:
            if getattr(cfg, side.cfg_enable) is not None:
                kw.update({a: getattr(cfg, f) for f, a in side.cfg_match})
                kw.update({f: getattr(cfg, f) for f in side.decoder or ()})
        return cls(state_dir, **kw)

    def _fs(self, spark):
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(self.state_dir)
        return jvm, path.getFileSystem(spark._jsc.hadoopConfiguration())

    # Every table: the core ones, then each side's (see SideTable).
    # Listing a table here puts it under compact(), crash recovery and
    # growth_report; exists() probes only the three doc tables. Two
    # core tables are appended by curate_increment, not write():
    # ``line_fps`` (cfg.dedup_lines) holds the 60-bit fingerprints of
    # every eligible line seen in any INPUT batch, not just kept docs —
    # the batch line pass runs before the gates, so a line of a
    # later-dropped doc still holds keeper status, exactly as in batch
    # curate() over the concatenated corpus. ``splits``
    # (cfg.split_fractions) holds the IMMUTABLE (doc_id, component,
    # split) assignment of every kept doc at the time it landed, which
    # keeps the leakage-safe split STABLE across daily batches (a
    # newcomer near-dup of a landed doc is dropped by history-wins, so
    # near-twins never straddle splits); its fractions + salt are
    # pinned in ``_split_params.json``.
    _TABLES = (
        "fingerprints",
        "shingles",
        "bands",
        "line_fps",
        "prefixes",
        "splits",
    ) + tuple(t for side in _SIDES for t in side.tables)

    def _recover_crashed_compact(self, spark, names=None) -> list[str]:
        """Roll back a compact() interrupted between its two renames.

        That crash window leaves ``table`` MISSING and ``table__gc``
        holding the only copy of the state. Every state entry point
        (``exists``/``read``/``compact`` and the two reports) calls
        this first, because
        each fails differently on the bare post-crash layout:
        ``exists()`` would report no history (silently re-admitting
        every duplicate via the bootstrap path), ``read`` would die on
        a missing dir, and ``compact()`` would DELETE ``__gc`` as a
        crashed-run leftover — destroying the history permanently.
        Idempotent, one existence probe per table on the happy path;
        returns the recovered table names."""
        jvm, fs = self._fs(spark)

        def hpath(p: str):
            return jvm.org.apache.hadoop.fs.Path(p)

        recovered = []
        for name in names or self._TABLES:
            table, gc = self._path(name), self._path(name) + "__gc"
            if not fs.exists(hpath(table)) and fs.exists(hpath(gc)):
                if not fs.rename(hpath(gc), hpath(table)):
                    raise IOError(
                        f"recover: rename {gc} -> {table} failed; state "
                        "is intact under __gc but unreadable until renamed"
                    )
                recovered.append(name)
        return recovered

    def exists(self, spark) -> bool:
        """True once a first batch has FULLY landed in all three tables.

        Primary probe is the committed-write marker (``_SUCCESS``): the
        committer creates the dir (with only ``_temporary``) before any
        data commits, so a bare-DIR probe would call a crashed first
        write 'landed' and every later batch would die reading a
        schemaless table. But success markers are commonly DISABLED
        (``mapreduce.fileoutputcommitter.marksuccessfuljobs=false`` is
        typical on object-store committers), so when the marker is
        absent we fall back to probing for committed top-level data
        files (anything not named ``_*``/``.*`` — crashed v1 writes
        leave only ``_temporary``, which the fallback ignores). Without
        the fallback, every increment would silently take the bootstrap
        path forever: history dedup stops and duplicate docs are
        re-admitted with no error. Checked through the Hadoop
        FileSystem API so any Spark-supported store works.

        Known limit of the fallback: on committers that make TASK
        commits visible before job commit (some object-store
        committers), a first write that crashes mid-job can leave
        visible part files and read as 'landed' — later increments
        then dedup against a partial history (duplicates of the
        unlanded docs slip through; never data loss). If your
        committer behaves that way, keep ``_SUCCESS`` markers enabled
        (the primary probe is then authoritative) or clear the state
        dirs before retrying a failed bootstrap."""
        self._recover_crashed_compact(spark)
        return all(
            self._table_landed(spark, n)
            for n in ("fingerprints", "shingles", "bands")
        )

    def _table_landed(self, spark, name: str) -> bool:
        """Committed-write probe for one state table (see ``exists``
        for the marker-vs-data-file fallback rationale)."""
        jvm, fs = self._fs(spark)
        dir_path = jvm.org.apache.hadoop.fs.Path(self._path(name))
        if fs.exists(jvm.org.apache.hadoop.fs.Path(self._path(name) + "/_SUCCESS")):
            return True
        if not fs.exists(dir_path):
            return False
        for st in fs.listStatus(dir_path):
            base = st.getPath().getName()
            if not base.startswith("_") and not base.startswith("."):
                return True
        return False

    def line_fps_exist(self, spark) -> bool:
        """True once a line-fingerprint batch has fully landed — probed
        separately from ``exists()`` because the table only ever exists
        for ``dedup_lines`` pipelines (and may be enabled later in a
        state's life: the first line-enabled batch bootstraps it)."""
        self._recover_crashed_compact(spark, ("line_fps",))
        return self._table_landed(spark, "line_fps")

    def line_fps(
        self, spark, exclude_epoch: int | None = None, run_id: str | None = None
    ) -> DataFrame:
        """The landed (line_fp: long) history for the incremental line
        pass, with the same replayed-epoch exclusion as the doc tables."""
        return self.read(spark, "line_fps", exclude_epoch, run_id)

    def append_line_fps(
        self,
        fps: DataFrame,
        mode: str = "append",
        epoch_id: int | None = None,
        run_id: str | None = None,
    ) -> None:
        """Append one batch's surviving eligible-line fingerprints,
        tagged like every other state append so a replayed epoch can
        exclude its own crashed attempt's rows. The caller must ensure
        ``fps``'s plan does NOT read this same table (derive it from a
        checkpointed frame — ``curate_increment`` does)."""
        etag = F.lit(-1 if epoch_id is None else int(epoch_id)).alias("_epoch")
        rtag = F.lit(run_id or "").alias("_run")
        fps.select("line_fp").withColumns({"_epoch": etag, "_run": rtag}).write.mode(
            mode
        ).parquet(self._path("line_fps"))

    def splits_exist(self, spark) -> bool:
        """True once a split batch has fully landed — probed separately
        from ``exists()`` because the table only exists for pipelines
        that pass ``split_fractions`` (and may be enabled later: the
        first split-enabled batch bootstraps it, covering only docs
        kept from then on — earlier docs backfill via one
        ``append_splits`` of a batch-mode assignment)."""
        self._recover_crashed_compact(spark, ("splits",))
        return self._table_landed(spark, "splits")

    def split_assignments(
        self, spark, exclude_epoch: int | None = None, run_id: str | None = None
    ) -> DataFrame:
        """The landed (doc_id, component, split) history — every kept
        doc's immutable split. Deduplicated on the full triple: a
        replayed epoch double-appends IDENTICAL rows (the assignment is
        a deterministic hash of the component label), so the dedup is
        exact; a doc_id appearing with two DIFFERENT assignments would
        survive the dedup and is a corruption signal, not something to
        silently collapse."""
        return self.read(spark, "splits", exclude_epoch, run_id).dropDuplicates(
            ["doc_id", "component", "split"]
        )

    def _sync_split_params(self, spark, fractions) -> None:
        """First-writer-wins manifest for the split fractions (and the
        fixed salt): a later batch assigning under DIFFERENT fractions
        would silently skew the landed train/val/test proportions and
        break the 'same component -> same split' determinism — not an
        error any read would surface."""
        mine = {
            "fractions": [[str(n), float(f)] for n, f in fractions],
            "salt": "split",
        }

        def validate(landed: dict) -> None:
            if landed != mine:
                raise ValueError(
                    f"CurationState({self.state_dir}) landed split "
                    f"assignments under {landed} but this batch uses "
                    f"{mine}; fractions are pinned for a state's "
                    "lifetime (use a fresh state to re-split)"
                )

        self._sync_manifest(spark, "_split_params.json", mine, validate)

    def append_splits(
        self,
        assign: DataFrame,
        fractions,
        mode: str = "append",
        epoch_id: int | None = None,
        run_id: str | None = None,
    ) -> None:
        """Append one batch's (doc_id, component, split) assignments,
        tagged like every other state append. Syncs the fractions
        manifest first. The caller must ensure ``assign``'s plan does
        not read this table (``curate_increment`` derives it from
        checkpointed frames)."""
        self._sync_split_params(assign.sparkSession, fractions)
        etag = F.lit(-1 if epoch_id is None else int(epoch_id)).alias("_epoch")
        rtag = F.lit(run_id or "").alias("_run")
        assign.select("doc_id", "component", "split").withColumns(
            {"_epoch": etag, "_run": rtag}
        ).write.mode(mode).parquet(self._path("splits"))

    def _sync_manifest(self, spark, filename: str, payload, validate) -> None:
        """ONE land-once/validate parameter-manifest protocol shared by
        params/bloom/prefix syncs (three near-verbatim copies had begun
        to drift): if the manifest exists, ``validate(landed_dict)``;
        else, when ``payload`` is not None, land it with
        ``create(overwrite=false)`` — atomic on HDFS-like stores, so
        two concurrent first writers cannot both land different params
        unseen: the loser's create fails, and it re-reads and
        validates against the winner's manifest like any later caller.
        ``payload=None`` means this instance has nothing to land (the
        feature is off here) — validation still runs if someone ELSE
        landed one.
        """
        import json

        jvm, fs = self._fs(spark)
        path = jvm.org.apache.hadoop.fs.Path(f"{self.state_dir}/{filename}")

        def validate_landed() -> None:
            stream = fs.open(path)
            try:
                landed = json.loads(
                    jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
                )
            finally:
                stream.close()
            validate(landed)

        if fs.exists(path):
            validate_landed()
            return
        if payload is None:
            return
        try:
            out = fs.create(path, False)  # no-overwrite: atomic first-writer-wins
            try:
                out.write(bytearray(json.dumps(payload).encode("utf-8")))
            finally:
                out.close()
        except Exception:
            # Lost the create race (FileAlreadyExistsException through
            # py4j) — converge on the winner's manifest.
            if not fs.exists(path):
                raise
            validate_landed()

    def sync_params(self, spark) -> None:
        """Land ``_params.json`` on first write; on every later call,
        raise if this instance's parameters differ from the landed
        ones (the guard ``curate_increment`` performs against cfg only
        covers in-memory consistency — this covers the on-disk truth).
        """

        def validate(landed: dict) -> None:
            if (landed.get("minhash_k"), landed.get("lsh_bands")) != (
                self.minhash_k,
                self.lsh_bands,
            ):
                raise ValueError(
                    f"CurationState({self.state_dir}) constructed with "
                    f"minhash_k={self.minhash_k}, lsh_bands={self.lsh_bands} "
                    f"but the landed state was derived with {landed}; "
                    "band hashes would never match — use the landed parameters"
                )

        self._sync_manifest(
            spark,
            "_params.json",
            {"minhash_k": self.minhash_k, "lsh_bands": self.lsh_bands},
            validate,
        )

    # ---- incremental Bloom filter over landed fingerprints ----------
    # Correctness invariant: the filter is a SUPERSET of the landed
    # fingerprint set at all times. Guaranteed by (a) updating the
    # bloom BEFORE the fingerprints append in write() — a crash
    # between the two leaves extra bits (false positives, removed by
    # the exact join), never missing ones; (b) bits only ever being
    # added; (c) bootstrap from the full landed history when the file
    # is absent (legacy states, or a crashed atomic replace).

    def _bloom_file(self) -> str:
        return f"{self.state_dir}/_bloom.bin"

    def _sync_bloom_params(self, spark) -> None:
        """Mirror of sync_params for the bloom sizing: first user lands
        `_bloom_params.json` atomically; later instances must match —
        probing with a different bit width or hash count than the bits
        were built with produces FALSE NEGATIVES, i.e. silently
        readmitted duplicates. A separate manifest (not _params.json)
        because the filter can be enabled later in a state's life."""

        def validate(landed: dict) -> None:
            if self.bloom_bits is None:
                raise ValueError(
                    f"CurationState({self.state_dir}) has a landed Bloom "
                    f"filter ({landed}) but this instance was constructed "
                    "without bloom_bits — writes that skip the bloom update "
                    "would create false negatives (readmitted duplicates) "
                    "for every later bloom-enabled reader"
                )
            if (landed.get("bloom_bits"), landed.get("bloom_hashes")) != (
                self.bloom_bits,
                self.bloom_hashes,
            ):
                raise ValueError(
                    f"CurationState({self.state_dir}) constructed with "
                    f"bloom_bits={self.bloom_bits}, bloom_hashes="
                    f"{self.bloom_hashes} but the landed filter was built "
                    f"with {landed}; probes would miss landed keys — use "
                    "the landed sizing"
                )

        payload = (
            None
            if self.bloom_bits is None
            else {"bloom_bits": self.bloom_bits, "bloom_hashes": self.bloom_hashes}
        )
        self._sync_manifest(spark, "_bloom_params.json", payload, validate)

    def read_bloom(self, spark) -> bytes | None:
        """The landed filter bytes, or None if never written."""
        jvm, fs = self._fs(spark)
        path = jvm.org.apache.hadoop.fs.Path(self._bloom_file())
        if not fs.exists(path):
            return None
        stream = fs.open(path)
        try:
            return bytes(
                jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        finally:
            stream.close()

    def _write_bloom(self, spark, payload: bytes) -> None:
        # tmp + rename: a crash window can at worst DELETE the file
        # (between delete and rename), and an absent file bootstraps
        # from full history on next use — superset invariant holds
        jvm, fs = self._fs(spark)
        tmp = jvm.org.apache.hadoop.fs.Path(self._bloom_file() + ".tmp")
        final = jvm.org.apache.hadoop.fs.Path(self._bloom_file())
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(payload))
        finally:
            out.close()
        if fs.exists(final):
            fs.delete(final, False)
        if not fs.rename(tmp, final):
            raise IOError(f"bloom filter rename failed: {self._bloom_file()}")

    def ensure_bloom(self, spark) -> None:
        """Bootstrap the filter from the FULL landed fingerprint
        history when enabled but absent (a pre-bloom state being
        upgraded, or a crashed replace). One pass over the fingerprint
        table — paid once, not per increment."""
        from clickhouse_mysql_data_reader_spark.operators.membership import (
            build_bloom,
        )

        if self.bloom_bits is None:
            return
        self._sync_bloom_params(spark)
        if self.read_bloom(spark) is not None or not self.exists(spark):
            return
        payload = build_bloom(
            self.fingerprints(spark), "fp", self.bloom_bits, self.bloom_hashes
        )
        self._write_bloom(spark, payload)

    # ---- landed AllPairs prefixes (exact near-dup vs history) --------
    # Correctness invariant: every landed doc's prefix rows are present
    # whenever the doc's shingles are (write() lands prefixes in the
    # same sequence; ensure_prefixes backfills a missing table from the
    # landed shingles). Extra/duplicate prefix rows are harmless — the
    # candidate join is distinct() and the metric verify (which reads
    # the epoch-excluded SHINGLE table) settles every candidate — but a
    # MISSING doc's prefix can silently miss a cross-history pair,
    # which is exactly the guarantee the table exists to provide; hence
    # the manifest check that rejects prefix-less writers.

    def _prefix_frac(self) -> float | None:
        """The slice fraction the landed prefixes are derived with: the
        LOOSER (max) of the enabled metrics' bounds, so the one table
        serves both probes (a longer prefix is a candidate superset —
        exact either way, see operators/dedup.py prefix_shingles)."""
        fracs = []
        if self.jaccard_exact_threshold is not None:
            t = self.jaccard_exact_threshold
            fracs.append((1.0 - t) / (1.0 + t))
        if self.containment_threshold is not None:
            fracs.append(1.0 - self.containment_threshold)
        return max(fracs) if fracs else None

    def _sync_prefix_params(self, spark) -> None:
        """Mirror of _sync_bloom_params for the prefix thresholds: the
        first prefix-enabled user lands ``_prefix_params.json``
        atomically; later instances must match. A separate manifest
        (not _params.json) because — like the bloom — exact near-dup
        can be enabled later in a state's life (``ensure_prefixes``
        backfills the table from the landed shingles)."""
        mine = {
            "jaccard_exact_threshold": self.jaccard_exact_threshold,
            "containment_threshold": self.containment_threshold,
        }

        def validate(landed: dict) -> None:
            if (self.jaccard_exact_threshold, self.containment_threshold) == (
                None,
                None,
            ):
                raise ValueError(
                    f"CurationState({self.state_dir}) has landed exact-"
                    f"near-dup prefixes ({landed}) but this instance was "
                    "constructed without the thresholds — writes that skip "
                    "the prefix append would leave landed docs invisible "
                    "to every later exact/containment history probe "
                    "(silently missed cross-batch duplicates); construct "
                    "with the landed thresholds"
                )
            if (
                landed.get("jaccard_exact_threshold"),
                landed.get("containment_threshold"),
            ) != (self.jaccard_exact_threshold, self.containment_threshold):
                raise ValueError(
                    f"CurationState({self.state_dir}) constructed with "
                    f"{mine} but the landed prefixes were derived with "
                    f"{landed}; a looser landed fraction stays exact but a "
                    "silent threshold change would land under-length "
                    "prefixes for future batches — use the landed "
                    "thresholds (or a fresh state for new ones)"
                )

        self._sync_manifest(
            spark,
            "_prefix_params.json",
            mine if self._prefix_frac() is not None else None,
            validate,
        )

    def prefixes_exist(self, spark) -> bool:
        """True once a prefix batch has fully landed — probed separately
        from ``exists()`` because the table only exists for
        exact-near-dup states (and may be enabled later)."""
        self._recover_crashed_compact(spark, ("prefixes",))
        return self._table_landed(spark, "prefixes")

    def prefixes(
        self, spark, exclude_epoch: int | None = None, run_id: str | None = None
    ) -> DataFrame:
        """The landed (doc_id, sh_h) prefix history, with the same
        replayed-epoch exclusion as the doc tables. (A backfilled row
        of an excluded epoch can surface here — tagged ("", -1) by
        ``ensure_prefixes`` — but the candidates it generates die in
        the metric verify, whose shingle read IS epoch-excluded.)"""
        return self.read(spark, "prefixes", exclude_epoch, run_id)

    def ensure_prefixes(self, spark) -> None:
        """Backfill the prefix table from the FULL landed shingle
        history when exact near-dup is enabled on a state that landed
        batches before (or a crashed write left shingles without
        prefixes). One rarest-sort pass over the landed shingles — the
        corpus-wide cost write() amortizes per batch, paid once here.
        OFFLINE op like compact(): quiesce OTHER writers first
        (``write()`` itself calls this before its own append, which is
        the one legitimate concurrent caller).

        Crash-safe via the compact() protocol: the backfill writes to a
        ``prefixes__bf`` staging dir and RENAMES into place — a retry
        after any crash deletes the stale staging dir and starts over
        (the old mode('error') write wedged permanently on its own
        leftovers, or worse, read a task-committed PARTIAL table as
        landed and no-opped)."""
        from clickhouse_mysql_data_reader_spark.operators.dedup import (
            prefix_shingles,
        )

        frac = self._prefix_frac()
        if frac is None:
            return
        self._sync_prefix_params(spark)
        if self.prefixes_exist(spark) or not self.exists(spark):
            return
        jvm, fs = self._fs(spark)
        hp = jvm.org.apache.hadoop.fs.Path
        final = self._path("prefixes")
        staging = final + "__bf"
        if fs.exists(hp(staging)):
            fs.delete(hp(staging), True)  # crashed earlier attempt
        if fs.exists(hp(final)):
            # exists but not landed (prefixes_exist was False): only
            # uncommitted leftovers — clear them or the rename nests
            fs.delete(hp(final), True)
        rows = prefix_shingles(
            self.shingles(spark).dropDuplicates(["doc_id", "sh_h"]), frac
        )
        # tag types must MATCH write()'s appends exactly (plain int
        # _epoch): a long-typed backfill next to int-typed appends makes
        # every later mergeSchema read fail with CANNOT_MERGE_SCHEMAS
        rows.withColumns(
            {"_epoch": F.lit(-1), "_run": F.lit("")}
        ).write.mode("overwrite").parquet(staging)
        if not fs.rename(hp(staging), hp(final)):
            raise IOError(f"ensure_prefixes: rename {staging} -> {final} failed")

    # ---- side tables (one SideTable per modality, see _SIDES) --------
    # Correctness invariant: every landed doc's side rows are present
    # whenever its fingerprints are — write() lands every side table
    # BEFORE the fingerprints append, and backfill() covers the history
    # a side was enabled over. A crash after a side commit leaves side
    # rows for docs the doc tables never landed: probes get STRICTER
    # (extra candidates the exact verify settles), never looser, where
    # the reverse order would leave landed docs invisible to every later
    # history probe of the side. Extra/duplicate rows are harmless the
    # same way (candidates are distinct()'d).

    def _sync_side_params(self, spark, side) -> None:
        """First-writer-wins manifest for one side's derivation
        parameters (``side.pinned``): rows derived with another
        geometry or decoder can NEVER match the landed ones, i.e.
        silently missed cross-batch duplicates, not an error any join
        would surface. One manifest per side (not _params.json)
        because a side can be enabled later in a state's life (via
        ``backfill``)."""
        side = _side(side)
        mine = {key: getattr(self, attr) for key, attr in side.pinned}

        def validate(landed: dict) -> None:
            if not side.enabled(self):
                raise ValueError(
                    f"CurationState({self.state_dir}) has landed "
                    f"{side.name}-dedup state ({landed}) but this instance "
                    f"was constructed without {side.enabled_by} — writes "
                    f"that skip the {'/'.join(side.tables)} appends would "
                    "leave landed docs invisible to every later "
                    f"{side.name} history probe (silently missed "
                    "cross-batch duplicates); construct with the landed "
                    "geometry"
                )
            if landed != mine:
                raise ValueError(
                    f"CurationState({self.state_dir}) constructed with "
                    f"{mine} but the landed {side.name} state was derived "
                    f"with {landed}; rows derived with another geometry or "
                    "decoder never match — use the landed geometry and "
                    "decoder (or a fresh state)"
                )

        self._sync_manifest(
            spark, side.manifest, mine if side.enabled(self) else None, validate
        )

    def landed(self, spark, side) -> bool:
        """True once every table of ``side`` (a ``_SIDES`` entry or its
        name) has fully landed — probed separately from ``exists()``
        because side tables only exist for side-enabled states (and may
        be enabled later via ``backfill``)."""
        side = _side(side)
        self._recover_crashed_compact(spark, side.tables)
        return all(self._table_landed(spark, t) for t in side.tables)

    def backfill(self, side, kept: DataFrame, id_col: str = "doc_id") -> None:
        """Enable ``side`` on a state whose batches landed before it:
        derive and land every table of the side from the historical
        KEPT corpus, which the CALLER must supply with the side's input
        columns — unlike ``ensure_prefixes`` there is nothing on disk
        to derive from (the state keeps keys, not content). A no-op
        once the side has landed. OFFLINE op: quiesce writers first.

        Crash-safe via the ensure_prefixes staging protocol: each table
        is written to a ``__bf`` dir and renamed into place; a retry
        clears stale leftovers. A crash BETWEEN the renames of a
        multi-table side leaves one table committed; the retry
        re-derives it only if the supplied corpus has exactly the
        landed doc ids (a different corpus would silently rewrite
        history). Rows are tagged ``("", -1)`` like any backfill —
        epoch exclusion is settled by the exact verify, as documented
        on ``prefixes``."""
        side = _side(side)
        spark = kept.sparkSession
        if not side.enabled(self):
            raise ValueError(
                f"backfill({side.name!r}) needs a {side.name}-enabled state "
                f"— construct CurationState with {side.enabled_by} (and the "
                "rest of the side's geometry) first"
            )
        self._sync_side_params(spark, side)
        if self.landed(spark, side):
            return
        rows = self._derive_side(side, kept, id_col)
        jvm, fs = self._fs(spark)
        hp = jvm.org.apache.hadoop.fs.Path
        for name in side.tables:
            final = self._path(name)
            staging = final + "__bf"
            if fs.exists(hp(staging)):
                fs.delete(hp(staging), True)  # crashed earlier attempt
            if self._table_landed(spark, name):
                # a committed table beside a missing sibling: a prior
                # attempt crashed between its renames
                landed_ids = spark.read.parquet(final).select("doc_id").distinct()
                supplied = rows[name].select("doc_id").distinct()
                mismatch = (
                    landed_ids.exceptAll(supplied)
                    .unionByName(supplied.exceptAll(landed_ids))
                    .limit(1)
                    .count()
                )
                if mismatch:
                    raise ValueError(
                        f"backfill({side.name!r}) retry: landed {name} "
                        "doc_ids differ from the supplied kept corpus — a "
                        "retry must pass the SAME historical corpus as the "
                        "crashed attempt (delete the landed "
                        f"{final} first to backfill a different one)"
                    )
                fs.delete(hp(final), True)
            elif fs.exists(hp(final)):
                # uncommitted leftovers only — clear them or the rename nests
                fs.delete(hp(final), True)
            # tag types must MATCH write()'s appends (see ensure_prefixes)
            rows[name].withColumns(
                {"_epoch": F.lit(-1), "_run": F.lit("")}
            ).write.mode("overwrite").parquet(staging)
            if not fs.rename(hp(staging), hp(final)):
                raise IOError(
                    f"backfill({side.name!r}): rename {staging} -> {final} failed"
                )

    def _derive_side(self, side: SideTable, kept: DataFrame, id_col: str) -> dict:
        """{table: rows} of one side for a kept frame."""
        cols = [getattr(self, a) for a in side.inputs]
        missing = [c for c in cols if c not in kept.columns]
        if missing:
            raise ValueError(
                f"{side.name}-enabled CurationState needs the {cols} "
                f"column(s) on every kept batch; missing {missing} in "
                f"{kept.columns}"
            )
        return side.derive(self, kept, id_col)

    def _derive(self, kept: DataFrame, text_col: str, id_col: str):
        from clickhouse_mysql_data_reader_spark.operators.dedup import (
            band_table,
            prefix_shingles,
        )

        fp = kept.select(
            F.col(id_col).alias("doc_id"),
            content_fingerprint(F.col(text_col)).alias("fp"),
        )
        sh = shingle_table(kept, text_col, id_col, partition_by_id=True)
        bands = band_table(
            minhash_signatures(sh, num_hashes=self.minhash_k),
            num_hashes=self.minhash_k,
            bands=self.lsh_bands,
        )
        frac = self._prefix_frac()
        # batch-local rarest-first ordering is exact for all later
        # probes (one-sided prefix theorem — see prefix_shingles)
        prefixes = prefix_shingles(sh, frac) if frac is not None else None
        return fp, sh, bands, prefixes

    def write(self, kept: DataFrame, text_col: str = "text", id_col: str = "doc_id",
              mode: str = "append", epoch_id: int | None = None,
              run_id: str | None = None,
              sigs: dict[str, DataFrame] | None = None) -> DataFrame:
        """Derive and append the state tables for a kept batch (the
        three doc tables, the prefixes and every enabled side's
        tables); returns the CHECKPOINTED ``kept`` — callers must act
        on the returned frame, not the original lazy plan, whose state
        reads are a stale snapshot once this append lands (a re-list
        under stage retry or cache eviction would see this batch's own
        rows and anti-join it to empty).

        ``kept`` is materialized ONCE via ``localCheckpoint`` before
        deriving: (a) the writes then read the checkpointed blocks
        instead of re-executing the caller's full curation plan (gates
        + dedup + LSH) per table, and (b) — the critical part — the
        writes are SELF-REFERENTIAL when ``kept`` came from
        ``curate_increment`` (its lineage READS these state paths, and
        an append's per-task commits become visible mid-job, so an
        un-truncated plan can observe its own partial output: observed
        as duplicate state shingle rows driving a degenerate
        divide-by-zero in the Jaccard verify). Lineage truncation
        removes the state reads from the write jobs entirely. On a
        real cluster prefer the ``curate_stream`` shape (state derived
        from the durably landed epoch output) where executor loss
        during the write must be survivable — localCheckpoint blocks
        are executor-local.

        ``sigs`` is the decode-once seam, keyed by side name: a caller
        that already fingerprinted the batch for a single-table side
        (curate_increment's probe stage — a checkpointed frame with NO
        state read in its plan) hands the rows over and only the kept
        subset lands; other enabled sides derive from the checkpointed
        kept batch.

        Write order is bloom -> side tables -> fingerprints -> shingles
        -> bands -> prefixes on purpose (the bloom and side-table
        invariants above), but note what a mid-sequence crash actually
        orphans: rows in the tables ALREADY written — i.e. a crash
        after the fingerprints commit leaves docs with fingerprints but
        no shingles/bands. Those orphans make the exact-dedup anti-join
        STRICTER (the docs are known), never looser, so no duplicate is
        admitted — but a plain batch retry of that same batch
        (``epoch_id=None``) anti-joins against its own partial
        fingerprint (or side) append and silently drops the whole
        batch. For retryable batch appends, pass ``epoch_id``/``run_id``
        (a batch tag) so the replay can EXCLUDE its own crashed
        append's rows, exactly as ``curate_stream`` does per epoch.
        ``exists`` additionally requires a committed write in all three
        doc dirs, so a partial FIRST write reads as not-landed and the
        next attempt bootstraps.
        """
        from pyspark import StorageLevel

        spark = kept.sparkSession
        sigs = sigs or {}
        self.sync_params(spark)
        self._sync_bloom_params(spark)
        self._sync_prefix_params(spark)
        for side in _SIDES:
            self._sync_side_params(spark, side)
        sides = [side for side in _SIDES if side.enabled(self)]
        if sides and self.exists(spark):
            for side in sides:
                if not self.landed(spark, side):
                    # a side-enabled handle writing over a state landed
                    # without the side must backfill FIRST — the prefix
                    # argument below, but NOT auto-runnable here: there
                    # is nothing on disk to derive side rows from, so
                    # the caller supplies the historical kept corpus.
                    # Appending only this batch would make landed()
                    # true with older docs invisible to every history
                    # probe of the side.
                    raise ValueError(
                        f"CurationState({self.state_dir}) has landed "
                        f"batches but no landed {'/'.join(side.tables)} — "
                        f"run {side.backfill_call} once (offline) before "
                        f"{side.name}-enabled appends"
                    )
        if self._prefix_frac() is not None:
            # a prefix-enabled handle writing over a LEGACY prefix-less
            # state must backfill the landed history FIRST: appending
            # only this batch's prefixes would make prefixes_exist()
            # true with older docs invisible to the landed-prefix probe
            # direction — silently missed cross-history duplicates
            # (no-op when prefixes already exist or nothing is landed)
            self.ensure_prefixes(spark)
        kept = kept.localCheckpoint()
        etag = F.lit(-1 if epoch_id is None else int(epoch_id)).alias("_epoch")
        rtag = F.lit(run_id or "").alias("_run")
        fp, sh, bands, prefixes = self._derive(kept, text_col, id_col)
        ids = kept.select(F.col(id_col).alias("doc_id"))
        side_rows: dict[str, DataFrame] = {}
        for side in sides:
            if sigs.get(side.name) is not None:
                (table,) = side.tables  # the seam serves single-table sides
                side_rows[table] = sigs[side.name].join(ids, "doc_id", "left_semi")
            else:
                side_rows.update(self._derive_side(side, kept, id_col))
        if self.bloom_bits is not None:
            # BEFORE the fingerprints append (see the bloom invariant
            # note above): a crash between bloom and fingerprints adds
            # false positives only. ensure_bloom first so a pre-bloom
            # history is folded in before this batch's bits.
            from clickhouse_mysql_data_reader_spark.operators.membership import (
                build_bloom,
            )

            self.ensure_bloom(spark)
            batch_bits = build_bloom(fp, "fp", self.bloom_bits, self.bloom_hashes)
            # prior bits are OR-ed in for EVERY mode, overwrite included:
            # the bloom lands before the data, so during the crash window
            # the landed fingerprints may still be the OLD corpus — a
            # batch-only bloom would then report definite-miss for landed
            # keys (false negatives, silent duplicate admission). Keeping
            # the old bits preserves bloom ⊇ landed-fps across both crash
            # outcomes; the cost is staleness-shaped false positives,
            # which the exact join removes. An overwrite that wants a
            # tight filter should delete the bloom file afterwards and
            # let ensure_bloom rebuild from the landed table.
            prior = self.read_bloom(spark)
            if prior is not None:
                import numpy as _np

                batch_bits = bytes(
                    _np.frombuffer(batch_bits, dtype=_np.uint8)
                    | _np.frombuffer(prior, dtype=_np.uint8)
                )
            self._write_bloom(spark, batch_bits)
        for table, rows in side_rows.items():
            # BEFORE the fingerprints append: the side-table invariant
            rows.withColumns({"_epoch": etag, "_run": rtag}).write.mode(
                mode
            ).parquet(self._path(table))
        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            fp.withColumns({"_epoch": etag, "_run": rtag}).write.mode(mode).parquet(
                self._path("fingerprints")
            )
            sh.withColumns({"_epoch": etag, "_run": rtag}).write.mode(mode).parquet(
                self._path("shingles")
            )
            bands.withColumns({"_epoch": etag, "_run": rtag}).write.mode(mode).parquet(
                self._path("bands")
            )
            if prefixes is not None:
                # Crash window: a failure after the shingle commit but
                # before this one leaves the batch's docs without
                # prefix rows — cross-history pairs where the CRASHED
                # doc is the smaller side can then be missed by later
                # exact probes (the other side, batch-prefix vs landed
                # shingles, still fires). Same remedy as every other
                # mid-sequence crash documented above: retry with
                # (run_id, epoch_id) tags so the replay excludes and
                # re-appends its own rows.
                prefixes.withColumns(
                    {"_epoch": etag, "_run": rtag}
                ).write.mode(mode).parquet(self._path("prefixes"))
        finally:
            sh.unpersist()
        return kept

    # One parquet file-set lands per epoch append; a long-running stream
    # therefore grows thousands of small files per state table, and the
    # mergeSchema read pays a footer read per file. compact() is the
    # maintenance remedy — ClickHouse merges parts for exactly this
    # reason (the reference's server does it implicitly; here it is an
    # explicit offline op).
    _HOMOGENEOUS_MARKER = "_tags_homogeneous"

    def compact(self, spark, target_file_bytes: int = 128 * 1024 * 1024) -> dict:
        """Rewrite each state table into size-targeted files, preserving
        every row INCLUDING its ``(_run, _epoch)`` tags (NULL tags from
        legacy layouts stay NULL — normalizing them to the batch tag
        ``("", -1)`` would make them excludable by a replay that never
        wrote them). Replayed-epoch exclusion therefore works unchanged
        post-compact.

        OFFLINE op: quiesce writers first (or run it from inside a
        foreachBatch epoch body, where the stream quiesces itself —
        ``curate_stream(compact_every=...)``). The swap is
        rename(table -> table__gc) / rename(tmp -> table) /
        delete(table__gc); no state is ever half-written, but a crash
        BETWEEN the two renames leaves the table dir missing with
        ``__gc`` holding the only copy — every entry point
        (``exists``/``read``/``compact``) first rolls that back via
        ``_recover_crashed_compact``, so the next read or compact sees
        the original table again. A ``__tmp`` leftover is always
        deletable (the pre-rename copy is still live); ``__gc`` is
        deleted only when the table dir exists (i.e. the swap
        completed and only the final delete was lost).

        Also drops the mergeSchema cost from ``read``: compacted files
        are schema-homogeneous (tags present everywhere), recorded with
        a ``_tags_homogeneous`` marker that ``read`` checks —
        subsequent ``write()`` appends always carry the tag columns, so
        homogeneity persists once established.

        Returns {table: {"files_before": n, "files_after": m}}.
        """
        jvm, fs = self._fs(spark)

        def hpath(p: str):
            return jvm.org.apache.hadoop.fs.Path(p)

        def data_files(dir_path: str) -> list:
            if not fs.exists(hpath(dir_path)):
                return []
            return [
                st
                for st in fs.listStatus(hpath(dir_path))
                if not st.getPath().getName().startswith(("_", "."))
            ]

        report: dict = {}
        for name in self._TABLES:
            table = self._path(name)
            tmp, gc = table + "__tmp", table + "__gc"
            # crash-window rollback FIRST: if the table dir is missing,
            # __gc is the only copy — deleting it would destroy the
            # state permanently
            self._recover_crashed_compact(spark, (name,))
            if fs.exists(hpath(tmp)):
                fs.delete(hpath(tmp), True)
            if fs.exists(hpath(gc)) and fs.exists(hpath(table)):
                fs.delete(hpath(gc), True)
            before = data_files(table)
            if not before:
                continue
            total_bytes = sum(st.getLen() for st in before)
            n_out = max(1, -(-total_bytes // int(target_file_bytes)))
            df = spark.read.option("mergeSchema", "true").parquet(table)
            for tag, typ in (("_epoch", "long"), ("_run", "string")):
                if tag not in df.columns:
                    df = df.withColumn(tag, F.lit(None).cast(typ))
            df.repartition(int(n_out)).write.mode("error").parquet(tmp)
            if not fs.rename(hpath(table), hpath(gc)):
                raise IOError(f"compact: rename {table} -> {gc} failed")
            if not fs.rename(hpath(tmp), hpath(table)):
                # roll the original back so the table never vanishes
                fs.rename(hpath(gc), hpath(table))
                raise IOError(f"compact: rename {tmp} -> {table} failed")
            fs.delete(hpath(gc), True)
            fs.create(hpath(f"{table}/{self._HOMOGENEOUS_MARKER}"), True).close()
            report[name] = {
                "files_before": len(before),
                "files_after": len(data_files(table)),
            }
        return report

    def read(
        self,
        spark,
        name: str,
        exclude_epoch: int | None = None,
        run_id: str | None = None,
    ) -> DataFrame:
        """One landed state table (any of ``_TABLES``) without its tag
        columns; ``(exclude_epoch, run_id)`` drops that epoch's own
        appends, so a replayed epoch sees exactly the pre-epoch
        history."""
        # mergeSchema: a dir can mix tag-bearing files with files from
        # an older layout; without it the picked footer decides whether
        # the tag columns even surface. Post-compact the dir is marked
        # schema-homogeneous and the per-file footer reads are skipped.
        self._recover_crashed_compact(spark, (name,))
        jvm, fs = self._fs(spark)
        homogeneous = fs.exists(
            jvm.org.apache.hadoop.fs.Path(
                f"{self._path(name)}/{self._HOMOGENEOUS_MARKER}"
            )
        )
        reader = spark.read
        if not homogeneous:
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(self._path(name))
        if exclude_epoch is not None and "_epoch" in df.columns:
            # eqNullSafe: rows from tag-less files surface as NULL under
            # the merged schema — a null-hostile `!=` would silently
            # drop that entire history from every dedup join
            cond = F.col("_epoch").eqNullSafe(int(exclude_epoch))
            if "_run" in df.columns:
                cond = cond & F.col("_run").eqNullSafe(run_id or "")
            elif run_id:
                # legacy rows can never belong to a named run
                cond = F.lit(False)
            df = df.filter(~cond)
        return df.drop("_epoch", "_run")

    def fingerprints(
        self, spark, exclude_epoch: int | None = None, run_id: str | None = None
    ) -> DataFrame:
        return self.read(spark, "fingerprints", exclude_epoch, run_id)

    def shingles(
        self, spark, exclude_epoch: int | None = None, run_id: str | None = None
    ) -> DataFrame:
        return self.read(spark, "shingles", exclude_epoch, run_id)

    def bands(
        self, spark, exclude_epoch: int | None = None, run_id: str | None = None
    ) -> DataFrame:
        return self.read(spark, "bands", exclude_epoch, run_id)

    def growth_report(self, spark) -> dict:
        """Per-table state-growth report: {table: {rows, docs?,
        segments?, bytes, files}} for every LANDED sidecar table —
        the number an operator of a daily-batch pipeline actually
        watches (state must grow with the KEPT corpus and nothing
        else, and a file count racing ahead of rows says `compact()`
        is due). `segments` counts distinct (_run, _epoch) append tags
        where present. One bounded aggregate per table over the raw
        files (tags included — this is the only reader that WANTS
        them); filesystem size via one ContentSummary call per table.
        """
        jvm, fs = self._fs(spark)
        # crash-window rollback FIRST: a table compact() left under
        # __gc probes as not landed and would drop out of the report
        self._recover_crashed_compact(spark)
        report: dict = {}
        for name in self._TABLES:
            if not self._table_landed(spark, name):
                continue
            cs = fs.getContentSummary(
                jvm.org.apache.hadoop.fs.Path(self._path(name))
            )
            df = spark.read.option("mergeSchema", "true").parquet(self._path(name))
            aggs = [F.count(F.lit(1)).alias("rows")]
            if "doc_id" in df.columns:
                aggs.append(F.countDistinct("doc_id").alias("docs"))
            if "_epoch" in df.columns:
                seg = (
                    F.countDistinct("_run", "_epoch")
                    if "_run" in df.columns
                    else F.countDistinct("_epoch")
                )
                aggs.append(seg.alias("segments"))
            row = df.agg(*aggs).collect()[0].asDict()
            report[name] = {
                **row,
                "bytes": int(cs.getLength()),
                "files": int(cs.getFileCount()),
            }
        return report

    def media_dup_rate_report(self, spark) -> DataFrame:
        """Per-modality duplication-rate report over the LANDED
        fingerprint tables — the monitor_dup_rate_* query family
        (queries/multimodal.py) read from state instead of re-decoding
        media: one row per landed modality with (modality, n_docs,
        n_distinct_fp, n_dup_docs, dup_rate). ``text`` counts distinct
        exact-content fingerprints; ``image``/``audio`` count the
        landed dHash / energy-contour longs; ``video`` uses the
        frame-SET identity (md5 of the sorted distinct frame hashes
        per clip — the set-valued fingerprint the modality needs).
        Replayed-epoch duplicate rows are collapsed before counting.

        This is what an ops loop reads BEFORE paying for a multimodal
        dedup pass: the media bytes are never re-read and the decode
        never re-runs — each modality is one narrow aggregate over
        landed longs (the video identity adds a bounded per-clip
        sort). Modalities this state never landed are simply absent.
        """
        parts = []

        def _rate_row(keyed: DataFrame, modality: str) -> DataFrame:
            return keyed.agg(
                F.countDistinct("doc_id").alias("n_docs"),
                F.countDistinct("_k").alias("n_distinct_fp"),
            ).select(
                F.lit(modality).alias("modality"),
                "n_docs",
                "n_distinct_fp",
                (F.col("n_docs") - F.col("n_distinct_fp")).alias("n_dup_docs"),
                F.round(
                    1.0 - F.col("n_distinct_fp") / F.col("n_docs"), 6
                ).alias("dup_rate"),
            )

        # crash-window rollback FIRST (see growth_report)
        self._recover_crashed_compact(spark)
        flat = (
            ("text", "fingerprints", "fp"),
            ("image", "image_fps", "dhash"),
            ("audio", "audio_fps", "ahash"),
        )
        for modality, table, col in flat:
            if not self._table_landed(spark, table):
                continue
            keyed = (
                self.read(spark, table)
                .select("doc_id", F.col(col).alias("_k"))
                .dropDuplicates(["doc_id", "_k"])
            )
            parts.append(_rate_row(keyed, modality))
        if self._table_landed(spark, "video_fps"):
            fset = (
                self.read(spark, "video_fps")
                .select("doc_id", "fhash")
                .dropDuplicates(["doc_id", "fhash"])
            )
            ident = fset.groupBy("doc_id").agg(
                F.md5(
                    F.array_join(
                        F.transform(
                            F.sort_array(F.collect_list("fhash")),
                            lambda x: x.cast("string"),
                        ),
                        ",",
                    )
                ).alias("_k")
            )
            parts.append(_rate_row(ident, "video"))
        if not parts:
            return spark.createDataFrame(
                [],
                "modality string, n_docs bigint, n_distinct_fp bigint, "
                "n_dup_docs bigint, dup_rate double",
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out


def curate_increment(
    new_docs: DataFrame,
    state: CurationState,
    cfg: CurationConfig = CurationConfig(),
    text_col: str = "text",
    id_col: str = "doc_id",
    update_state: bool = True,
    epoch_id: int | None = None,
    run_id: str | None = None,
    line_fps_out: dict | None = None,
    splits_out: dict | None = None,
    # LAST, not beside cfg: a pre-round-7 caller passing text_col/id_col
    # positionally must keep binding them to the same slots (a mid-
    # signature insertion would silently hand text_col to benchmark)
    benchmark: DataFrame | None = None,
) -> DataFrame:
    """Curate a NEW batch against the landed state of everything kept so
    far — the production shape of the pipeline (daily increments over a
    growing 100 TB corpus; re-curating from scratch each day is not an
    option).

    Within-batch: the same gates + exact dedup + LSH near-dup merge as
    ``curate``, including the configured ``near_dup_keeper`` policy for
    the batch's own components ("longest" elects the best in-batch
    representative exactly like batch mode) and the configured
    candidate policy (``near_dup_exact`` — AllPairs prefix filter,
    provably no missed pair — and the ``near_dup_containment`` second
    edge type; both need a prefix-enabled ``CurationState``, see its
    ctor). Against history: exact dups leave via an anti-join on the
    fingerprint; near-dups leave via LSH bucket collisions with the
    state's band table (or, under ``near_dup_exact``/containment, via
    the exact two-sided prefix join against the landed shingles +
    prefixes), metric-verified against the state's shingles; SEMANTIC
    dups (``embed_near_cos`` — needs an embed-enabled state, see the
    ``CurationState`` ctor) leave via SRP band collisions with the
    landed ``srp_bands`` table, exact-cosine-verified against the
    landed vectors — history ALWAYS wins regardless of keeper policy
    (the kept corpus is immutable), so cross dups drop the NEW doc even
    when it is longer than the landed keeper. The state tables are joined on their keys only —
    the historical corpus text is never re-read, and the per-batch cost
    scales with |batch| + |state rows touched by its join keys|, not
    with |corpus|.

    Returns the kept new documents; with ``update_state`` their derived
    rows are appended to the state first and the returned frame is the
    checkpointed batch ``CurationState.write`` materialized (new ids
    must not collide with state ids — enforce upstream). With
    ``update_state=False`` the returned frame is a LAZY plan: every
    action re-executes the full gates + LSH + history joins, so a
    caller that acts on it more than once should ``persist``/
    ``localCheckpoint`` it first (the update_state=True path gets this
    for free from ``CurationState.write``'s checkpoint). ``(run_id,
    epoch_id)`` (streaming replays) excludes that epoch's own prior
    state appends from every history join and tags this batch's
    appends — see ``curate_stream``.

    ``line_fps_out``: pass a dict to take ownership of the batch's
    line-fingerprint landing (``dedup_lines`` only) — the frame to
    append lands in ``line_fps_out["line_fps"]`` and this function
    will NOT append it itself, regardless of ``update_state``.
    ``curation_epoch_apply`` uses this to defer the append until
    after its epoch output commits.

    ``benchmark``: decontamination in the batch stage order (after the
    near-dup merge, same ``contamination_mode`` semantics as batch
    ``curate`` via the shared ``_decontamination_stage``). The stage
    is a pure per-doc function of (text, benchmark) — no history
    interaction — so per-batch application composes exactly; the STATE
    lands the decontaminated survivors only. KNOWN DELTA vs
    batch-over-concatenation: a contaminated doc never lands, so it
    cannot suppress a CLEAN near-dup arriving in a LATER batch the way
    a contaminated within-run keeper does in one batch run — the
    incremental path keeps that later clean copy (errs toward keeping
    a clean document; the contamination gate itself judged it clean).
    Within one batch the stage order matches batch mode exactly.
    """
    if (cfg.minhash_k, cfg.lsh_bands) != (state.minhash_k, state.lsh_bands):
        # a mismatch is silent data corruption, not an error state the
        # joins would surface: band hashes derived with different k or
        # band count can never match the landed ones, so cross-history
        # near-dup detection would simply find nothing
        raise ValueError(
            f"curation config (minhash_k={cfg.minhash_k}, "
            f"lsh_bands={cfg.lsh_bands}) does not match the landed state "
            f"(minhash_k={state.minhash_k}, lsh_bands={state.lsh_bands}); "
            "derive the batch's signatures with the state's parameters"
        )
    if cfg.near_dup_keeper not in ("min_id", "longest"):
        raise ValueError(
            f"unknown near_dup_keeper {cfg.near_dup_keeper!r}: "
            "expected 'min_id' or 'longest'"
        )
    if cfg.quality_calibrate_pctile is not None:
        # corpus-relative by construction: a within-batch percent_rank
        # would make the keep set depend on batch boundaries (the same
        # doc kept in a strong batch, dropped in a weak one) — exactly
        # the batch!=increment drift this pipeline forbids. Not an
        # error the output would surface, so refuse loudly.
        raise ValueError(
            "quality_calibrate_pctile is batch-only (the percent_rank is "
            "corpus-relative); for incremental/streaming curation freeze "
            "per-source thresholds from a baseline corpus with "
            "operators/text.py calibrated_quality_thresholds() and pass "
            "them as cfg.quality_thresholds (stateless, batch-stable)"
        )
    if (
        cfg.split_fractions is not None
        and not update_state
        and splits_out is None
    ):
        # split assignments ARE corpus state (the landed table is what
        # makes them stable across batches); computing them with
        # nowhere to land would silently produce nothing
        raise ValueError(
            "split_fractions in curate_increment needs update_state=True "
            "(the assignments land in the state's `splits` table — read "
            "them back via state.split_assignments) or a splits_out dict "
            "(the curation_epoch_apply deferred-landing seam); for a "
            "stateless one-off use batch curate() or the standalone "
            "cluster_safe_split"
        )
    if cfg.near_dup_exact and state.jaccard_exact_threshold != cfg.near_dup_jaccard:
        # the landed prefixes were sliced for the state's threshold; a
        # looser probe threshold would need LONGER prefixes than were
        # landed — silently missed cross-history pairs, not an error
        # the joins would surface. Equality enforced (the manifest
        # pins the on-disk truth; this catches in-memory drift).
        raise ValueError(
            f"near_dup_exact at jaccard={cfg.near_dup_jaccard} but the "
            f"state lands prefixes for jaccard_exact_threshold="
            f"{state.jaccard_exact_threshold}; construct CurationState "
            "with jaccard_exact_threshold matching cfg.near_dup_jaccard "
            "(on an already-landed pre-prefix state, run "
            "state.ensure_prefixes(spark) once to backfill)"
        )
    if (
        cfg.near_dup_containment is not None
        and state.containment_threshold != cfg.near_dup_containment
    ):
        raise ValueError(
            f"near_dup_containment={cfg.near_dup_containment} but the "
            f"state lands prefixes for containment_threshold="
            f"{state.containment_threshold}; construct CurationState "
            "with containment_threshold matching cfg.near_dup_containment "
            "(on an already-landed pre-prefix state, run "
            "state.ensure_prefixes(spark) once to backfill)"
        )
    for side in _SIDES:
        flag = getattr(cfg, side.cfg_enable)
        if flag is None:
            continue
        # geometry mismatch is the minhash_k argument again: side rows
        # derived with other parameters or another decoder can never
        # match the landed ones, so the side's cross-history probe
        # would silently find nothing. The input column names must
        # match too — write() derives the state tables from the
        # state's names.
        fields = [f for f, _ in side.cfg_match]
        mine = [getattr(cfg, f) for f in fields]
        theirs = [getattr(state, a) for _, a in side.cfg_match]
        if side.decoder is not None:
            fn, tag = side.decoder
            fields.append(tag)
            mine.append(_decoder_tag(getattr(cfg, fn), getattr(cfg, tag)))
            theirs.append(getattr(state, tag))
        if not side.enabled(state) or mine != theirs:
            raise ValueError(
                f"{side.cfg_enable}={flag} needs a {side.name}-enabled "
                "CurationState matching the cfg's geometry: cfg has "
                f"({', '.join(fields)})={tuple(mine)} but the state was "
                f"constructed with {tuple(theirs)}; rows derived with "
                "another geometry or decoder never match (silently missed "
                f"{side.name} duplicates)"
            )
        cols = [getattr(cfg, c) for c in side.inputs]
        missing = [c for c in cols if c not in new_docs.columns]
        if missing:
            raise ValueError(
                f"{side.cfg_enable}={flag} needs the {cols} column(s) on "
                f"the batch; missing {missing} in {new_docs.columns}"
            )
    spark = new_docs.sparkSession
    if state.exists(spark):
        # also validate against the ON-DISK parameters: the ctor-vs-cfg
        # check above cannot catch a session that reconstructs the
        # state handle with the wrong values
        state.sync_params(spark)
        state._sync_prefix_params(spark)
        if (cfg.near_dup_exact or cfg.near_dup_containment is not None) and (
            not state.prefixes_exist(spark)
        ):
            raise ValueError(
                "exact/containment near-dup vs history needs the landed "
                "prefix table, which this state has not written — run "
                "state.ensure_prefixes(spark) once (offline; one "
                "rarest-sort pass over the landed shingles) to backfill, "
                "then increments maintain it per batch"
            )
        for side in _SIDES:
            if getattr(cfg, side.cfg_enable) is None:
                continue
            state._sync_side_params(spark, side)
            if not state.landed(spark, side):
                raise ValueError(
                    f"{side.name} near-dup vs history needs the landed "
                    f"{'/'.join(side.tables)} table(s), which this state "
                    f"has not written — run state.{side.backfill_call} "
                    "once (offline; the caller supplies the kept corpus "
                    "with its input columns — the state keeps keys, not "
                    "content), then increments maintain them per batch"
                )

    # --- stage 0 (optional): incremental corpus-level line dedup ------
    # The C4 line pass in daily-batch form (operators/text.py
    # line_dedup_increment): a line whose fingerprint any EARLIER batch
    # landed is removed here, within-batch duplicates keep their
    # min-(doc, line_no) copy, and the gates below judge the cleaned
    # text — the same stage order as batch curate(), so with doc ids
    # assigned in batch order the batches compose to exactly what one
    # batch run over the concatenated corpus produces (pinned by test).
    new_line_fps = None
    if cfg.dedup_lines:
        from clickhouse_mysql_data_reader_spark.operators.text import (
            _line_elig,
            _sep_regex,
            line_dedup_increment,
            line_fingerprints,
        )

        landed_lines = (
            state.line_fps(spark, exclude_epoch=epoch_id, run_id=run_id)
            if state.line_fps_exist(spark)
            else None
        )
        cleaned, _ = line_dedup_increment(
            new_docs,
            landed_lines,
            text_col=text_col,
            id_col=id_col,
            min_line_chars=cfg.line_dedup_min_chars,
            sep=cfg.line_dedup_sep,
        )
        # localCheckpoint: (a) the cleaned text feeds every gate and
        # both dedup families — untruncated, each consumer re-runs the
        # line explode/join machinery from the scan; (b) it cuts the
        # landed line_fps READ out of the lineage, so the append below
        # can never observe its own partial output (the same
        # self-referential-write argument as CurationState.write).
        cleaned = cleaned.localCheckpoint()
        new_docs = new_docs.drop(text_col).join(
            cleaned.select(id_col, text_col), id_col
        )
        # fps of ALL surviving eligible lines of the INPUT batch land —
        # independent of later gate/dedup outcomes, because in batch
        # mode the line pass runs before any gate, so lines of docs
        # later dropped still hold keeper status for future batches.
        # Re-derived from the checkpointed text: no state read in the
        # write plan.
        new_line_fps = line_fingerprints(
            cleaned.select(
                F.explode(
                    F.split(F.col(text_col), _sep_regex(cfg.line_dedup_sep))
                ).alias("line")
            ).filter(_line_elig(cfg.line_dedup_min_chars))
        )

    if line_fps_out is not None and new_line_fps is not None:
        # caller takes ownership of the landing: curation_epoch_apply
        # appends these rows only AFTER its epoch output commits, so an
        # abandoned epoch (output write failed, never replayed) cannot
        # leave line state claiming keeper status for lines no landed
        # doc contains. The frame derives from the localCheckpoint'ed
        # cleaned text — no state read in its plan, safe to append.
        line_fps_out["line_fps"] = new_line_fps

    def _land_line_fps() -> None:
        # AFTER the doc-state write on purpose: a crash between the two
        # leaves docs landed without their line fps — future batches
        # then keep duplicate copies of this batch's lines (looser,
        # recoverable by replaying with epoch tags), whereas the
        # reverse order would let a plain batch retry see its own
        # crashed line append and gut every doc in the batch.
        if update_state and new_line_fps is not None and line_fps_out is None:
            state.append_line_fps(new_line_fps, epoch_id=epoch_id, run_id=run_id)

    def _land_splits(kept_ckpt: DataFrame, comps_frame: DataFrame) -> None:
        # Incremental leakage-safe split: every kept doc's assignment
        # hashes its WITHIN-BATCH near-dup component (all edge types;
        # singletons hash their own id) and lands immutably — stable
        # across batches because (a) landed assignments are never
        # recomputed and (b) a later near-twin of a landed doc is
        # dropped by history-wins, so no cluster ever has members in
        # two splits. With doc ids assigned in batch order this equals
        # batch-over-concatenation bit-for-bit on every surviving doc:
        # the concatenated run labels a cross-batch cluster by its MIN
        # member id, which is the batch-1 keeper the increments kept
        # (parity pinned by test; the dedup path's documented
        # transitive-chain-through-dropped-docs delta applies to the
        # survivor SET itself, not to the assignment arithmetic).
        # AFTER the doc-state write, the line_fps ordering argument:
        # a crash between the two leaves docs landed without split
        # rows (replay with epoch tags, or backfill with one
        # append_splits of a batch-mode assignment); the reverse order
        # would land splits for docs that never landed. The assignment
        # derives from the CHECKPOINTED kept frame + within-batch
        # components (no state read in the plan), so the append cannot
        # observe its own output.
        if cfg.split_fractions is None:
            return
        if splits_out is not None:
            # deferred-landing seam (the line_fps_out pattern): hand
            # the within-batch component frame to the caller, who
            # assigns over its durably LANDED output and appends after
            # that output commits — so an abandoned epoch cannot land
            # splits for docs no output contains. comps' plan reads no
            # state tables (within-batch edges over checkpointed
            # frames), so the later append is self-reference-safe.
            splits_out["comps"] = comps_frame
            return
        if update_state:
            assign = _split_assignment_frame(
                kept_ckpt, comps_frame, cfg.split_fractions, id_col
            )
            state.append_splits(
                assign.select(
                    F.col(id_col).alias("doc_id"), "component", "split"
                ),
                cfg.split_fractions,
                epoch_id=epoch_id,
                run_id=run_id,
            )

    _, exact = _row_stages(new_docs, cfg, text_col, id_col)

    if not state.exists(spark):
        # bootstrap: no history yet — within-batch curation only.
        # localCheckpoint: the shingle table feeds signatures, the
        # Jaccard verify AND (via components' edge materialization)
        # runs eagerly anyway — without truncation each consumer
        # re-executes the gates+shingling chain from the scan
        sh0 = shingle_table(
            exact, text_col, id_col, partition_by_id=True
        ).localCheckpoint()
        # boilerplate gate, bootstrap form: batch one IS the corpus so
        # far, so within-batch frequencies are exactly what batch
        # curate() over the (one-batch) concatenation would measure
        boiled0 = exact
        if cfg.max_boiler_frac is not None:
            from clickhouse_mysql_data_reader_spark.operators.text import (
                ngram_boilerplate,
            )

            cov0 = ngram_boilerplate(
                exact, text_col, id_col, min_docs=cfg.boiler_min_docs, shingles=sh0
            )
            bdrop0 = cov0.filter(
                F.col("boiler_frac") > cfg.max_boiler_frac
            ).select(F.col("doc_id").alias(id_col))
            boiled0 = exact.join(bdrop0, id_col, "left_anti")
            sh0 = sh0.join(
                bdrop0.select(F.col(id_col).alias("doc_id")), "doc_id", "left_anti"
            )
        # same candidate policy + containment edge type as batch
        # curate() via the shared helper — batch one IS the corpus so
        # far, so the bootstrap's survivor set equals a batch run over
        # the (one-batch) concatenation under any cfg (parity-pinned).
        # sorted_arrays is left to recompute per slice off the
        # checkpointed sh0: a batch-sized freq agg + collect, not the
        # corpus-scale pass batch mode persists.
        edges0 = _near_dup_edge_set(sh0, cfg)
        if cfg.embed_near_cos is not None:
            # third (semantic) edge type, same union as batch curate();
            # localCheckpoint the batch-sized vector frame (three
            # consumers — the bootstrap's established discipline)
            from clickhouse_mysql_data_reader_spark.operators.similarity import (
                as_double_array,
            )

            vecs0 = boiled0.select(
                F.col(id_col).alias("vid"),
                as_double_array(cfg.embed_col).alias("v"),
            ).localCheckpoint()
            edges0 = edges0.unionByName(
                _semantic_edge_set(boiled0, cfg, id_col, vecs=vecs0)
            ).distinct()
        sigs_img0 = None
        if cfg.image_near_hamming is not None:
            # fourth (image) edge type, same union as batch curate();
            # localCheckpoint so the decode runs once (the self-join
            # consumes both sides AND the state write lands the kept
            # subset through the ``sigs`` seam)
            sigs_img0 = _image_sigs(
                boiled0, id_col, cfg.image_col, cfg.image_grid_w,
                cfg.image_grid_h, cfg.image_decode_fn,
            ).localCheckpoint()
            edges0 = edges0.unionByName(
                _image_edge_set(sigs_img0, cfg)
            ).distinct()
        sigs_aud0 = None
        if cfg.audio_near_hamming is not None:
            # fifth (audio) edge type — the image stanza's mirror
            sigs_aud0 = _audio_sigs(
                boiled0, id_col, cfg.audio_col, cfg.audio_n_windows,
                cfg.audio_decode_fn,
            ).localCheckpoint()
            edges0 = edges0.unionByName(
                _audio_edge_set(sigs_aud0, cfg)
            ).distinct()
        fset_vid0 = None
        if cfg.video_min_matching is not None:
            # sixth (video) edge type — set-valued fingerprints
            fset_vid0 = _video_sigs(boiled0, id_col, cfg).localCheckpoint()
            edges0 = edges0.unionByName(
                _video_edge_set(fset_vid0, cfg)
            ).distinct()
        comps0 = connected_components(edges0)
        drop0 = _near_dup_drop_ids(comps0, boiled0, cfg, text_col, id_col)
        kept = boiled0.join(drop0, id_col, "left_anti")
        kept = _decontamination_stage(kept, benchmark, cfg, text_col, id_col)
        if update_state:
            kept = state.write(kept, text_col=text_col, id_col=id_col,
                               mode="append", epoch_id=epoch_id, run_id=run_id,
                               sigs={"image": sigs_img0, "audio": sigs_aud0,
                                     "video": fset_vid0})
        _land_line_fps()
        _land_splits(kept, comps0)
        return kept

    # --- exact dedup vs history (anti-join on fingerprint) ------------
    with_fp = exact.withColumn("_fp", content_fingerprint(F.col(text_col)))
    hist_fp = state.fingerprints(spark, exclude_epoch=epoch_id, run_id=run_id).select(
        F.col("fp").alias("_fp")
    )
    if state.bloom_bits is not None:
        # Bloom prefilter (state-maintained, see CurationState): rows
        # that are definite filter misses are definitely not in the
        # landed history — they skip the shuffle anti-join. Maybe-rows
        # (true hits + false positives, including any excluded-epoch
        # keys whose bits are in the filter) pay the exact join, which
        # settles them — exactness holds for any fill level.
        from clickhouse_mysql_data_reader_spark.operators.membership import (
            might_contain,
        )

        state.ensure_bloom(spark)
        bloom = state.read_bloom(spark)
    else:
        bloom = None
    if bloom is not None:
        # localCheckpoint: both union branches below consume `tagged`,
        # and without truncation each branch re-executes the whole
        # upstream plan (gates + PII scrub + exact-dedup window + the
        # Arrow probe UDF) — doubling the scan-stage work of the very
        # path the bloom exists to make cheap. Batch-sized frame, same
        # discipline as sh_new below.
        tagged = with_fp.withColumn(
            "_maybe",
            might_contain(bloom, state.bloom_bits, state.bloom_hashes, F.col("_fp")),
        ).localCheckpoint()
        vs_hist = (
            tagged.filter(~F.col("_maybe"))
            .drop("_maybe")
            .unionByName(
                tagged.filter(F.col("_maybe"))
                .drop("_maybe")
                .join(hist_fp, "_fp", "left_anti")
            )
            .drop("_fp")
        )
    else:
        vs_hist = with_fp.join(hist_fp, "_fp", "left_anti").drop("_fp")

    # round 15: materialize the gates + history-anti-join result ONCE.
    # vs_hist feeds every downstream consumer — the shingle table, the
    # vector/media fingerprint frames, the keeper election's text
    # reads and the final kept anti-joins — and each consumer
    # otherwise re-executes the whole row-gate + exact-dedup +
    # fingerprint-anti-join chain from the scan (3-4 evaluations per
    # increment in the semantic config, profiled). Batch-sized, the
    # same storage class as the dedup_lines `cleaned` checkpoint; it
    # also freezes the state-fingerprint snapshot for every consumer
    # at once (the sh_new mid-increment-consistency argument, now one
    # level up).
    vs_hist = vs_hist.localCheckpoint()

    # --- near-dup within batch AND vs history -------------------------
    from clickhouse_mysql_data_reader_spark.operators.dedup import band_table

    # localCheckpoint: sh_new has THREE consumers (signatures/bands,
    # the within-batch Jaccard verify, and the union feeding the
    # history Jaccard), and connected_components executes eagerly
    # below — truncating here makes the expensive gates+shingling
    # chain run once instead of once per consumer. This also freezes
    # the state-fingerprint anti-join snapshot the shingles derive
    # from, the same mid-increment-consistency argument as
    # CurationState.write's checkpoint. Since round 15 the
    # materialization itself is submitted through util.overlap_jobs
    # together with the other independent per-batch checkpoints
    # (vectors, media fingerprints) below — UNLESS the boilerplate
    # gate is on, which rewrites vs_hist from sh_new and so forces the
    # shingle job to land first, alone.
    sh_new_plan = shingle_table(vs_hist, text_col, id_col, partition_by_id=True)
    sh_new = None
    if cfg.max_boiler_frac is not None:
        sh_new = sh_new_plan.localCheckpoint()

    # --- boilerplate gate vs history + batch (optional) ---------------
    # Same position as batch curate() (after exact dedup, before the
    # near-dup stage); doc-frequencies = this batch's counts + the
    # landed KEPT corpus's counts at the batch's shingle keys only
    # (state.shingles is per-doc distinct, so count(1) per sh_h IS the
    # doc frequency; dropDuplicates guards replayed-epoch double
    # appends). Per-batch cost: one column-pruned scan of the state
    # shingle table keyed by the batch's shingles — the corpus text is
    # never re-read. KNOWN DELTA vs batch-over-concatenation: history
    # contributes only docs that SURVIVED curation (batch mode counts
    # pre-near-dup docs, including ones later dropped), so incremental
    # frequencies can run slightly lower — the gate errs toward
    # keeping. Parity holds whenever the fragment's landed frequency
    # already clears boiler_min_docs (pinned by test).
    if cfg.max_boiler_frac is not None:
        from clickhouse_mysql_data_reader_spark.operators.text import (
            ngram_boilerplate,
        )

        hist_counts = (
            state.shingles(spark, exclude_epoch=epoch_id, run_id=run_id)
            .join(sh_new.select("sh_h").distinct(), "sh_h", "left_semi")
            .dropDuplicates(["doc_id", "sh_h"])
            .groupBy("sh_h")
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )
        cov = ngram_boilerplate(
            vs_hist,
            text_col,
            id_col,
            min_docs=cfg.boiler_min_docs,
            shingles=sh_new,
            extra_counts=hist_counts,
        )
        bdrop = cov.filter(F.col("boiler_frac") > cfg.max_boiler_frac).select(
            F.col("doc_id").alias(id_col)
        )
        vs_hist = vs_hist.join(bdrop, id_col, "left_anti")
        sh_new = sh_new.join(
            bdrop.select(F.col(id_col).alias("doc_id")), "doc_id", "left_anti"
        )

    # --- per-batch materializations, OVERLAPPED (round 15) -------------
    # Every eager localCheckpoint below is an independent Spark job
    # over the same batch: shingles (+ the rarest-sorted arrays that
    # back the prefix slices), vectors -> SRP bands, image/audio
    # fingerprints, video frame sets (-> hot-frame guard). Landing
    # them sequentially left the cluster idle through each job's
    # straggler tail; util.overlap_jobs submits them concurrently from
    # driver threads (FIFO back-fill). DEPENDENT materializations are
    # chained INSIDE one callable and never split across two. Each
    # job's per-frame rationale is unchanged from rounds 10-14:
    # - sh_new: three consumers + the self-referential-append argument
    #   (see the comment above sh_new_plan);
    # - sorted arrays: the rarest-first relation backs up to three
    #   prefix slices (within-batch jaccard/containment + the
    #   cross-history batch prefixes) — one freq agg + collect, not
    #   one per slice;
    # - vecs/SRP bands: batch-sized, three consumers each (both sides
    #   of the within-batch verify + the history probes), and the
    #   checkpoint cuts the state reads upstream in vs_hist out of the
    #   write lineage;
    # - image/audio fingerprints: FOUR consumers (both sides of the
    #   within-batch banding self-join, the cross-history probe, the
    #   state write through the sigs seam) — the Arrow decode runs
    #   ONCE per batch;
    # - video frame sets: same, plus the hot-frame stop guard, whose
    #   df must see batch UNION history (a frame rare in a small
    #   increment but ubiquitous in the landed clips — black frame,
    #   studio logo — would otherwise pair batch clips batch-curate
    #   would never pair AND explode the history probe's equi-join).
    #   The hot set is tiny (only hashes above the cap); the RAW
    #   fingerprint set still lands in state (future batches need the
    #   true df).
    exactish = cfg.near_dup_exact or cfg.near_dup_containment is not None
    if exactish:
        from clickhouse_mysql_data_reader_spark.operators.dedup import (
            rarest_sorted_shingles,
        )
    _vh = vs_hist  # the (possibly boiler-filtered) frame the closures bind
    jobs: dict = {}
    if sh_new is None:

        def _sh_job(p=sh_new_plan):
            s = p.localCheckpoint()
            sa = rarest_sorted_shingles(s).localCheckpoint() if exactish else None
            return s, sa

        jobs["sh"] = _sh_job
    elif exactish:
        # boiler path: sh_new landed before the gate and was filtered
        # lazily; the sorted arrays derive from the FILTERED frame
        jobs["sorted_arr"] = lambda s=sh_new: rarest_sorted_shingles(
            s
        ).localCheckpoint()
    if cfg.embed_near_cos is not None:
        from clickhouse_mysql_data_reader_spark.operators.similarity import (
            as_double_array,
            srp_band_table,
        )

        def _vec_job(vh=_vh):
            v = vh.select(
                F.col(id_col).alias("vid"),
                as_double_array(cfg.embed_col).alias("v"),
            ).localCheckpoint()
            b = srp_band_table(
                v,
                cfg.embed_dim,
                n_bits=cfg.embed_bits,
                n_bands=cfg.embed_srp_bands,
                id_col="vid",
                vec_col="v",
                seed=cfg.embed_seed,
            ).localCheckpoint()
            return v, b

        jobs["vec"] = _vec_job
    if cfg.image_near_hamming is not None:
        jobs["img"] = lambda vh=_vh: _image_sigs(
            vh, id_col, cfg.image_col, cfg.image_grid_w,
            cfg.image_grid_h, cfg.image_decode_fn,
        ).localCheckpoint()
    if cfg.audio_near_hamming is not None:
        jobs["aud"] = lambda vh=_vh: _audio_sigs(
            vh, id_col, cfg.audio_col, cfg.audio_n_windows,
            cfg.audio_decode_fn,
        ).localCheckpoint()
    if cfg.video_min_matching is not None:

        def _vid_job(vh=_vh):
            f = _video_sigs(vh, id_col, cfg).localCheckpoint()
            hot = None
            if cfg.video_max_frame_df is not None:
                hist_v = (
                    state.read(
                        spark, "video_fps", exclude_epoch=epoch_id, run_id=run_id
                    )
                    .select("doc_id", "fhash")
                    .dropDuplicates(["doc_id", "fhash"])
                )
                hot = _video_hot_frames(f, hist_v, cfg).localCheckpoint()
            return f, hot

        jobs["vid"] = _vid_job

    mats = overlap_jobs(jobs)
    sorted_arr_new = None
    if "sh" in mats:
        sh_new, sorted_arr_new = mats["sh"]
    elif "sorted_arr" in mats:
        sorted_arr_new = mats["sorted_arr"]
    vecs_new, bands_new_srp = mats.get("vec", (None, None))
    sigs_img_new = mats.get("img")
    sigs_aud_new = mats.get("aud")
    fset_vid_new, hot_vid = mats.get("vid", (None, None))
    fset_vid_pair = fset_vid_new
    if hot_vid is not None:
        fset_vid_pair = fset_vid_new.join(hot_vid, "fhash", "left_anti")

    sigs_new = minhash_signatures(sh_new, num_hashes=cfg.minhash_k)
    bands_new = band_table(sigs_new, num_hashes=cfg.minhash_k, bands=cfg.lsh_bands)
    edges_in = _near_dup_edge_set(
        sh_new, cfg, sigs=sigs_new, sorted_arrays=sorted_arr_new
    )
    if cfg.embed_near_cos is not None:
        # third (semantic) edge type within the batch — the
        # checkpointed vecs/bands reused so the gate plan does not
        # re-execute per consumer
        edges_in = edges_in.unionByName(
            _semantic_edge_set(
                vs_hist, cfg, id_col, vecs=vecs_new, bands=bands_new_srp
            )
        ).distinct()
    if cfg.image_near_hamming is not None:
        # fourth (image) edge type within the batch — the checkpointed
        # fingerprints reused so the decode does not re-run per side
        edges_in = edges_in.unionByName(
            _image_edge_set(sigs_img_new, cfg)
        ).distinct()
    if cfg.audio_near_hamming is not None:
        # fifth (audio) edge type within the batch
        edges_in = edges_in.unionByName(
            _audio_edge_set(sigs_aud_new, cfg)
        ).distinct()
    if cfg.video_min_matching is not None:
        # sixth (video) edge type within the batch — over the
        # hot-frame-guarded set (df computed vs batch UNION history)
        edges_in = edges_in.unionByName(
            _video_edge_set(fset_vid_pair, cfg)
        ).distinct()
    comps = connected_components(edges_in)
    drop_in = _near_dup_drop_ids(comps, vs_hist, cfg, text_col, id_col)

    # vs history, Jaccard metric: candidates from the LSH bucket-join
    # (new bands vs state bands on (band_id, band_hash) — only
    # colliding buckets move) or, under near_dup_exact, from the exact
    # two-sided prefix join (batch prefixes vs landed shingles + landed
    # prefixes vs batch shingles — operators/dedup.py
    # cross_prefix_candidates; provably no missed pair, the history
    # side streams and is never shuffled when AQE broadcasts the
    # batch-sized side).
    hist_sh_full = state.shingles(spark, exclude_epoch=epoch_id, run_id=run_id)
    if exactish:
        hist_prefixes = state.prefixes(spark, exclude_epoch=epoch_id, run_id=run_id)
    if cfg.near_dup_exact:
        frac_j = (1.0 - cfg.near_dup_jaccard) / (1.0 + cfg.near_dup_jaccard)
        cands_hist = cross_prefix_candidates(
            sh_new,
            hist_sh_full,
            frac_j,
            prefix_new=prefix_shingles(sh_new, frac_j, sorted_arrays=sorted_arr_new),
            prefix_hist=hist_prefixes,
        )
    else:
        cands_hist = (
            bands_new.alias("n")
            .join(
                state.bands(spark, exclude_epoch=epoch_id, run_id=run_id).alias("h"),
                (F.col("n.band_id") == F.col("h.band_id"))
                & (F.col("n.band_hash") == F.col("h.band_hash")),
            )
            .select(F.col("n.doc_id").alias("doc_a"), F.col("h.doc_id").alias("doc_b"))
            .distinct()
        )
    # vs history, containment metric (optional second drop set): exact
    # cross candidates at the containment bound; the landed prefixes
    # are sliced at the LOOSER of the enabled fractions (see
    # CurationState._prefix_frac) so one landed table serves both
    # probes exactly. History always wins — the NEW doc drops — so a
    # landed truncated copy suppresses a longer original arriving
    # later (first-wins, the documented increment semantics); run
    # batch curate with keeper='longest' where that loss matters.
    c_cands_hist = None
    if cfg.near_dup_containment is not None:
        frac_c = 1.0 - cfg.near_dup_containment
        c_cands_hist = cross_prefix_candidates(
            sh_new,
            hist_sh_full,
            frac_c,
            prefix_new=prefix_shingles(sh_new, frac_c, sorted_arrays=sorted_arr_new),
            prefix_hist=hist_prefixes,
        )
    # dropDuplicates AFTER the semi-join cut (candidate docs only — tiny):
    # a replayed epoch's double-append leaves duplicate state shingle
    # rows, which are harmless for the anti/semi joins but would inflate
    # the metric verifies' per-doc counts. One shingle pull serves both
    # metric verifies (the candidate-doc sets are unioned first).
    cand_docs = cands_hist.select(F.col("doc_b").alias("doc_id"))
    if c_cands_hist is not None:
        cand_docs = cand_docs.unionByName(
            c_cands_hist.select(F.col("doc_b").alias("doc_id"))
        )
    sh_hist = (
        hist_sh_full
        .join(cand_docs.distinct(), "doc_id", "left_semi")
        .dropDuplicates(["doc_id", "sh_h"])
    )
    verify_rel = sh_new.unionByName(sh_hist)
    pairs_hist = jaccard_pairs(
        verify_rel,
        candidates=cands_hist,
        min_jaccard=cfg.near_dup_jaccard,
    )
    drop_hist = pairs_hist.select(F.col("doc_a").alias(id_col))
    if c_cands_hist is not None:
        c_pairs_hist = containment_pairs(
            verify_rel,
            candidates=c_cands_hist,
            min_containment=cfg.near_dup_containment,
        )
        drop_hist = drop_hist.unionByName(
            c_pairs_hist.select(F.col("doc_a").alias(id_col))
        )
    if cfg.embed_near_cos is not None:
        # vs history, semantic metric (third drop set): the batch's SRP
        # bands bucket-join the LANDED bands — only colliding buckets
        # move — then the exact-cosine verify runs against the landed
        # VECTORS, semi-join-cut to candidate docs first (the sh_hist
        # pattern above; the full vector history is never shuffled).
        # History always wins: the NEW doc drops.
        hist_srp = state.read(spark, "srp_bands", exclude_epoch=epoch_id, run_id=run_id)
        sem_cands = (
            bands_new_srp.alias("n")
            .join(
                hist_srp.alias("h"),
                (F.col("n.band_idx") == F.col("h.band_idx"))
                & (F.col("n.band_val") == F.col("h.band_val")),
            )
            .select(
                F.col("n.vid").alias("doc_a"), F.col("h.doc_id").alias("doc_b")
            )
            .distinct()
        )
        hist_vecs = (
            state.read(spark, "embeddings", exclude_epoch=epoch_id, run_id=run_id)
            .join(
                sem_cands.select(F.col("doc_b").alias("doc_id")).distinct(),
                "doc_id",
                "left_semi",
            )
            # replayed-epoch double appends: duplicate vector rows only
            # inflate the verify join's width, but drop them anyway —
            # the candidate cut has already made this frame tiny
            .dropDuplicates(["doc_id"])
            .select(F.col("doc_id").alias("vid"), "v")
        )
        sem_pairs = _cos_verified(sem_cands, vecs_new, hist_vecs, cfg.embed_near_cos)
        drop_hist = drop_hist.unionByName(
            sem_pairs.select(F.col("doc_a").alias(id_col))
        )
    if cfg.image_near_hamming is not None:
        # vs history, image metric (fourth drop set): the batch's dHash
        # chunks bucket-join the LANDED fingerprint longs — only
        # colliding chunk buckets move, and the exact Hamming verify is
        # one bit_count over the joined longs (no separate verify table
        # — the fingerprint IS the verify value, unlike the embed
        # path). History always wins: the NEW doc drops. The media
        # bytes of history are never re-read and the decode never
        # re-runs — the landed longs are everything the probe needs.
        # Replayed-epoch double appends only duplicate candidate rows,
        # which the pair distinct removes.
        from clickhouse_mysql_data_reader_spark.operators.dedup import (
            simhash_near_pairs_cross,
        )

        img_pairs = simhash_near_pairs_cross(
            sigs_img_new,
            state.read(spark, "image_fps", exclude_epoch=epoch_id, run_id=run_id),
            bits=cfg.image_grid_h * (cfg.image_grid_w - 1),
            hamming_max=cfg.image_near_hamming,
            id_col="doc_id",
            sig_col="dhash",
        )
        drop_hist = drop_hist.unionByName(
            img_pairs.select(F.col("doc_a").alias(id_col))
        )
    if cfg.audio_near_hamming is not None:
        # vs history, audio metric (fifth drop set) — the image probe's
        # mirror: chunk bucket-join against the landed energy-hash
        # longs, exact Hamming verify in the join, history wins
        from clickhouse_mysql_data_reader_spark.operators.dedup import (
            simhash_near_pairs_cross,
        )

        aud_pairs = simhash_near_pairs_cross(
            sigs_aud_new,
            state.read(spark, "audio_fps", exclude_epoch=epoch_id, run_id=run_id),
            bits=cfg.audio_n_windows - 1,
            hamming_max=cfg.audio_near_hamming,
            id_col="doc_id",
            sig_col="ahash",
        )
        drop_hist = drop_hist.unionByName(
            aud_pairs.select(F.col("doc_a").alias(id_col))
        )
    if cfg.video_min_matching is not None:
        # vs history, video metric (sixth drop set): frame-level
        # equi-join against the landed frame-hash rows + per-pair
        # match count — the set-intersection analogue of the banding
        # cross probes. History always wins: the NEW doc drops.
        drop_hist = drop_hist.unionByName(
            _video_hist_drop(
                fset_vid_new,
                state.read(spark, "video_fps", exclude_epoch=epoch_id, run_id=run_id),
                cfg,
                hot=hot_vid,
            ).select(F.col("doc_a").alias(id_col))
        )
    drop_hist = drop_hist.distinct()
    # history-wins, TRANSITIVELY (round 14): a within-batch component
    # containing ANY history-dropped doc drops ENTIRELY — exactly what
    # one-shot batch curate over the concatenated corpus does (the
    # landed twin joins the component, and with batch-ordered ids the
    # min-id keeper election keeps the LANDED doc, dropping every
    # batch member). Without this, a batch doc connected to a landed
    # doc only through a dropped within-batch sibling (cluster {5,6}
    # where 5 near-dups landed 1 but the keeper election kept 6) would
    # survive as an undetected transitive near-twin — and its split
    # assignment could straddle the landed twin's. Two narrow
    # semi-joins over the batch-sized component frame.
    hist_touched = (
        comps.join(
            drop_hist.select(F.col(id_col).alias("doc_id")),
            "doc_id",
            "left_semi",
        )
        .select("component")
        .distinct()
    )
    drop_hist = drop_hist.unionByName(
        comps.join(hist_touched, "component", "left_semi").select(
            F.col("doc_id").alias(id_col)
        )
    ).distinct()

    kept = (
        vs_hist.join(drop_in, id_col, "left_anti")
        .join(drop_hist, id_col, "left_anti")
    )
    kept = _decontamination_stage(kept, benchmark, cfg, text_col, id_col)
    if update_state:
        # act on the frame write() returns: it is checkpointed, so the
        # result cannot re-read the state this call just appended to
        kept = state.write(kept, text_col=text_col, id_col=id_col,
                           mode="append", epoch_id=epoch_id, run_id=run_id,
                           sigs={"image": sigs_img_new, "audio": sigs_aud_new,
                                 "video": fset_vid_new})
    _land_line_fps()
    _land_splits(kept, comps)
    return kept


def curate_stream(
    stream_docs: DataFrame,
    state: CurationState,
    out_dir: str,
    cfg: CurationConfig = CurationConfig(),
    text_col: str = "text",
    id_col: str = "doc_id",
    run_id: str | None = None,
    compact_every: int | None = None,
    # last for positional-caller compatibility (see curate_increment)
    benchmark: DataFrame | None = None,
):
    """Continuous curation: each micro-batch of a streaming document
    source is curated incrementally against the landed state (gates,
    exact + near dedup within the batch AND vs everything kept so far),
    the survivors land under ``out_dir/epoch=<id>``, and the state grows
    by exactly the kept docs — the streaming twin of daily-batch
    ``curate_increment``, built on foreachBatch like the CDC pump
    (streaming/pump.py).

    Failure semantics (foreachBatch is at-least-once, so an epoch can
    REPLAY after a crash anywhere between its first side effect and the
    commit-log write — replays must be idempotent):

    - every history join excludes the current epoch's own state rows
      (``exclude_epoch``), so a replay sees exactly the pre-epoch
      history even when the first attempt already appended state —
      without this, the batch anti-joins against its own fingerprints,
      ``kept`` collapses to empty, and the overwrite silently erases
      the previously-written survivors;
    - the epoch OUTPUT is written first (overwrite — a replay rewrites
      the identical survivor set, curation being a pure function of
      content and pre-epoch history), and the state append derives from
      the LANDED output files, so the full curation plan executes once
      per epoch (the three state writes re-scan the small landed
      parquet, not the plan) and a crash before the state append leaves
      an output the replay reproduces byte-identically;
    - a replayed state append leaves duplicate rows for the epoch —
      harmless: its own epoch excludes them, later epochs consume the
      state through anti-/semi-joins (multiplicity-insensitive) and a
      post-semi-join dropDuplicates on the Jaccard path;
    - ``run_id`` scopes the epoch tags: foreachBatch epoch ids are
      CHECKPOINT-scoped (a fresh checkpoint restarts at 0), so pass a
      stable identity of the logical stream — the checkpoint location
      is the natural choice (stable across driver restarts of the same
      stream, distinct for a re-started-from-scratch one). Without it,
      a second run's epoch 0 would exclude the first run's epoch-0
      history from dedup and re-admit its duplicates.

    ``compact_every=N`` runs ``state.compact()`` after every Nth epoch's
    state append. compact() is documented offline-only, but inside
    foreachBatch the constraint holds by construction: epoch bodies of
    one query are serialized, so the stream is quiesced during its own
    epoch — valid ONLY while this stream is the state's sole writer.
    Without it a long-lived stream appends one file-set per epoch and
    the state reads go footer-bound (the small-file explosion the
    round-4 review flagged).

    Returns the DataStreamWriter — caller picks trigger, checkpoint
    location, and calls start().
    """
    if cfg.quality_calibrate_pctile is not None:
        # fail at stream SETUP, not inside the first epoch's foreachBatch
        # (same reasoning as curate_increment's check: a within-batch
        # percent_rank ties the keep set to batch boundaries)
        raise ValueError(
            "quality_calibrate_pctile is batch-only; freeze per-source "
            "thresholds (calibrated_quality_thresholds) and pass them as "
            "cfg.quality_thresholds for streaming curation"
        )
    apply_fn = curation_epoch_apply(
        state, out_dir, cfg=cfg, benchmark=benchmark, text_col=text_col,
        id_col=id_col, run_id=run_id, compact_every=compact_every,
    )
    return stream_docs.writeStream.foreachBatch(apply_fn)


def curation_epoch_apply(
    state: CurationState,
    out_dir: str,
    cfg: CurationConfig = CurationConfig(),
    text_col: str = "text",
    id_col: str = "doc_id",
    run_id: str | None = None,
    compact_every: int | None = None,
    # last for positional-caller compatibility (see curate_increment)
    benchmark: DataFrame | None = None,
):
    """The per-epoch body of ``curate_stream``, exposed so the replay
    contract is directly testable (call it twice with the same
    epoch_id) — see ``curate_stream`` for the ordering rationale and
    the ``run_id`` contract. Output paths are run-scoped too (a fresh
    run's epoch 0 must not overwrite a prior run's epoch-0 output)."""

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # with dedup_lines on, take ownership of the batch's line
        # fingerprints: curate_increment's own landing is keyed to
        # update_state (False here), and the epoch contract wants them
        # appended only after the epoch output commits — mirroring the
        # landed-docs-then-state ordering below
        fps_out: dict | None = {} if cfg.dedup_lines else None
        sp_out: dict | None = {} if cfg.split_fractions is not None else None
        kept = curate_increment(
            batch_df,
            state,
            cfg=cfg,
            benchmark=benchmark,
            text_col=text_col,
            id_col=id_col,
            update_state=False,
            epoch_id=epoch_id,
            run_id=run_id,
            line_fps_out=fps_out,
            splits_out=sp_out,
        )
        if run_id:
            # run ids are free-form (often a checkpoint PATH) — hash
            # for the directory component, keep the raw id in the tags
            import hashlib

            sub = f"run={hashlib.md5(run_id.encode()).hexdigest()[:12]}/"
        else:
            sub = ""
        epoch_path = f"{out_dir}/{sub}epoch={epoch_id}"
        kept.write.mode("overwrite").parquet(epoch_path)
        landed = spark.read.parquet(epoch_path)
        state.write(landed, text_col=text_col, id_col=id_col, mode="append",
                    epoch_id=epoch_id, run_id=run_id)
        if fps_out and fps_out.get("line_fps") is not None:
            # last of the three commits (output -> doc state -> line
            # fps): any crash window leaves at worst MISSING line fps
            # (later batches keep duplicate copies of this batch's
            # lines — loose, and the replay re-appends them), never
            # line fps for docs that don't exist
            state.append_line_fps(
                fps_out["line_fps"], epoch_id=epoch_id, run_id=run_id
            )
        if sp_out and sp_out.get("comps") is not None:
            # split assignments over the LANDED epoch output (not the
            # lazy plan), appended after the doc-state commit like the
            # line fps: a crash window leaves at worst missing split
            # rows (the replay re-appends identical ones), never split
            # rows for docs that never landed
            assign = _split_assignment_frame(
                landed, sp_out["comps"], cfg.split_fractions, id_col
            )
            state.append_splits(
                assign.select(
                    F.col(id_col).alias("doc_id"), "component", "split"
                ),
                cfg.split_fractions,
                epoch_id=epoch_id,
                run_id=run_id,
            )
        # post-append maintenance: epochs of one query are serialized,
        # so no writer is active here. A crash between compact()'s two
        # renames leaves the table only under __gc; the replayed
        # epoch's first state READ rolls it back
        # (_recover_crashed_compact runs on every exists/read/compact
        # entry), then the replay re-appends + re-compacts normally.
        # (epoch + 1) so compact_every=N fires after epochs N-1,
        # 2N-1, ... — i.e. every N epochs counting from the first.
        if compact_every and (epoch_id + 1) % compact_every == 0:
            state.compact(spark)

    return _apply
