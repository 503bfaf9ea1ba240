"""Training-data pipeline operators: dedup, similarity search, text
analysis — all expressed JVM-side (pyspark.sql.functions only, zero
Python UDFs) so Catalyst/Tungsten codegen the hot path and AQE plans
the joins.  Every op is deterministic and DuckDB-oracle-checkable:
cross-engine hashing uses md5 (identical in both engines) truncated to
48 bits so BIGINT arithmetic never overflows on either side.

Scale notes (10^12-doc regime):
* exact dedup          — one hash-aggregate shuffle on the text key;
* minhash signatures   — explode(grams×seeds) is map-side, one
  partial-agg shuffle on (doc, seed);
* minhash/simhash pair finding — band equality joins (pigeonhole for
  simhash: hamming ≤ 3 over 4×12-bit chunks guarantees a shared
  chunk), never an O(n²) cross join;
* cosine top-k         — broadcast the (small) query set, one pass over
  embeddings, per-query top-k window; the IVF variant prunes to the
  nearest-centroid bucket first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Stopword list for quality scoring (tiny, deterministic; both
# engines embed the same literals).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on"],
}


def fan_out(df: DataFrame, key: str | None = "doc_id") -> DataFrame:
    """Scale-adaptive scan-width guard (optimization guide §2.5 "input
    skew: one huge unsplittable file → repartition immediately after
    the read").

    A small single-file parquet table arrives as ONE scan task, so
    every map-side pass over it — gram building, per-position hashing,
    Arrow-batched Python decoders — serializes on one core while the
    rest of the session idles (r8: the sf documents/embeddings tables
    are single-row-group files, and the whole dedup/textops family was
    paying cores× for it).  Repartition to the session's default
    parallelism ONLY when the scan is narrower than that; wide inputs
    — any real corpus layout — pass through untouched, so the extra
    exchange exists exactly where it buys ~cores× and costs one
    shuffle of a few MB.  Hash on ``key`` when present (deterministic,
    and skips round-robin's sort-before-repartition pass); plain
    round-robin otherwise.  Results are partition-agnostic everywhere
    this is used — only the physical layout changes.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        width = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover — exotic plans; never narrow
        return df
    if width >= target:
        return df
    if key is not None and key in df.columns:
        return df.repartition(target, F.col(key))
    return df.repartition(target)


def md5_hash48(col: Column, salt: str = "", hexchars: int = 12) -> Column:
    """Cross-engine integer hash (the ONE blessed form per CLAUDE.md):
    first ``hexchars`` hex chars of md5 as BIGINT — identical in Spark
    and DuckDB (``('0x'||substr(md5(x),1,n))::BIGINT``).  ≤15 hex
    chars (60 bits) keeps the value positive in a signed 64-bit int on
    both engines."""
    if hexchars > 15:
        # contract check, not a debug assert: must survive python -O
        raise ValueError("BIGINT sign-safety: at most 15 hex chars")
    payload = F.concat(F.lit(salt), col) if salt else col
    return F.conv(
        F.substring(F.md5(payload), 1, hexchars), 16, 10
    ).cast("long")


def _words() -> Column:
    return F.split(F.col("text"), " ")


def word_ngrams(n: int) -> Column:
    """Distinct word n-grams as an array column (JVM higher-order
    fns), built in LINEAR time: ``arrays_zip`` of ``n`` shifted
    word-array slices + a per-element ``concat_ws`` — every
    ``split``/``slice`` is a row-level operand evaluated once per
    row.  The previous form sliced ``split(text, ' ')`` INSIDE the
    transform lambda; CollapseProject-style inlining re-ran the O(n)
    split per element, making every word-shingle op quadratic in doc
    length — 80 s for banded minhash over a corpus whose giant pages
    hold 36k words (r5 adversarial-corpus finding, the word-side
    twin of :func:`_char_gram_expr`)."""
    # guard: short docs (< n words) must produce an EMPTY gram array
    # (slice with length <= 0 throws)
    w = "split(text, ' ')"
    ln = f"size({w}) - {n} + 1"
    slices = ", ".join(f"slice({w}, {j + 1}, {ln})" for j in range(n))
    fields = ", ".join(f"s.`{j}`" for j in range(n))
    return F.array_distinct(
        F.expr(
            f"CASE WHEN size({w}) < {n} "
            f"THEN CAST(array() AS ARRAY<STRING>) "
            f"ELSE transform(arrays_zip({slices}),"
            f" s -> concat_ws(' ', {fields})) END"
        )
    )


def _char_gram_expr(text_col: str, k: int, hash_fn: str | None) -> str:
    """SQL expr for the array of ALL ``k``-char grams of ``text_col``
    (``hash_fn=None``) or of their hashes, in LINEAR time — positioned
    ``substring(text, i, k)`` is O(i) on UTF8String (code-point re-scan
    from byte 0), so the obvious per-position loop is O(n²/2) character
    scans per document: 16 G scans for one 180 KB page, and winnow ran
    20× slower on 220 KB docs than on the same bytes as 11 KB docs (r5,
    found by the adversarial giant-page corpus).

    Construction, PER ROW by document length:

    * short docs (< ``switch_chars`` = 48·k) — the plain per-position
      substring transform.  Its byte re-scans are quadratic but
      allocation-free, which WINS below the crossover: the zip form
      pays ~2×k object allocations per position, so its advantage
      starts later for wide grams.  Crossover measured r7 at fixed
      16M total chars (sub/zip ratio by L): k=3 → ~250 chars,
      k=8 → ~400, k=25 → ~1400, k=64 → ~3500 — linear in k,
      ≈48·k.  (r6's fixed 4096 switch was calibrated at k=25 only;
      it made the k=3 lang tier pay a 7× quadratic penalty on
      2000-char heads.)  Err low: below crossover zip costs at most
      ~2×, above it substring is quadratic;
    * long docs — ``arrays_zip`` of ``k`` SHIFTED char-array slices,
      then a per-element struct concat.  Every ``split``/``slice``
      is a row-level operand of arrays_zip — evaluated once per row
      — and the lambda touches only its own struct element, so cost
      is k row-level O(n) passes → O(n·k): 220 KB docs went 128.6 s
      → 1.09 s.  CASE branches evaluate lazily per row, so each doc
      pays only its own branch.

    The tempting third form (bind ``split(text,'')`` as a column and
    ``slice(ch, i, k)`` inside the lambda) is a trap: CollapseProject
    inlines the single-use alias into the lambda body, re-running the
    O(n) split per element and reintroducing the quadratic (measured:
    6.6 s → 94 s).

    ``hash_fn``: ``xxhash64`` (engine default) or ``md5`` (the blessed
    cross-engine md5-48 form the oracles pin) hashes each gram where it
    is built (r8), so the intermediate ``array<string>`` of gram text
    never materializes — the per-row intermediate is one
    ``array<bigint>`` at 8 B/position.  Branches, switch point and gram
    values are the same either way.  Public ``hash_fn`` parameters go
    through :func:`_gram_hash` first, which rejects ``None``."""
    forms = {
        None: ("STRING", "{}"),
        "xxhash64": ("BIGINT", "xxhash64({})"),
        "md5": (
            "BIGINT", "CAST(conv(substring(md5({}), 1, 12), 16, 10) AS BIGINT)"
        ),
    }
    if hash_fn not in forms:
        raise ValueError(
            f"hash_fn must be None, 'xxhash64' or 'md5', got {hash_fn!r}"
        )
    elem, h = forms[hash_fn]
    if k > 64:
        raise ValueError(
            "char grams wider than 64 need a different plan shape"
        )
    switch_chars = 48 * k
    ch = f"split({text_col}, '')"
    ln = f"length({text_col}) - {k} + 1"
    slices = ", ".join(f"slice({ch}, {j + 1}, {ln})" for j in range(k))
    fields = ", ".join(f"s.`{j}`" for j in range(k))
    return (
        f"CASE WHEN length({text_col}) < {k} THEN "
        f"CAST(array() AS ARRAY<{elem}>) "
        f"WHEN length({text_col}) < {switch_chars} THEN "
        f"transform(sequence(1, length({text_col}) - {k} + 1),"
        f" i -> {h.format(f'substring({text_col}, i, {k})')}) "
        f"ELSE transform(arrays_zip({slices}),"
        f" s -> {h.format(f'concat({fields})')}) END"
    )


def _gram_hash(hash_fn: str) -> str:
    """A public ``hash_fn`` argument of a hashed gram builder: only
    ``xxhash64`` or ``md5`` (``None`` would build gram strings)."""
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(
            f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}"
        )
    return hash_fn


# ------------------------------------------------------------- dedup
def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup on text: one survivor (min doc_id) per distinct text."""
    return (
        docs.groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    )


# One blocking skeleton for the near-dup generators (SparkER, EDBT'19:
# blocking → block purging → matching): each generator emits its
# (doc_id, key) rows and the helpers below own the shared steps.
def _bucket_pairs(keyed: DataFrame, keys, *carry: str) -> DataFrame:
    """Blocking: self-join ``keyed`` on ``keys`` (a column name or
    list), keep ``doc_a < doc_b`` and count the keys each pair shares.
    Returns ``(doc_a, doc_b, <c>_a, <c>_b…, shared)`` — every ``carry``
    column once per side.  A bucketed equality join, never a cross
    join; callers that drop ``shared`` get the same plan as a
    ``distinct`` (the optimizer prunes the unused count)."""
    a = keyed.alias("a")
    b = keyed.alias("b")
    sides = [
        F.col(f"{side}.{c}").alias(f"{c}_{side}")
        for c in carry
        for side in ("a", "b")
    ]
    return (
        a.join(b, keys)
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *sides,
        )
        .agg(F.count("*").alias("shared"))
    )


def _shared_keys(keys: DataFrame, key: str, max_df: int) -> DataFrame:
    """Block purging: the ``key`` values of ``keys`` (one row per
    (doc, key)) with ``2 <= df <= max_df``.  A df=1 key pairs no docs;
    one above the cap is boilerplate whose f² pair expansion swamps
    the join.  The kept set scales with duplication, not corpus size."""
    return (
        keys.groupBy(key)
        .agg(F.count("*").alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= max_df))
        .select(key)
    )


def _bucket_volume(
    per_key: DataFrame, n: str, capped: Column | None = None, *extra: Column
) -> dict:
    """Plan-evidence stats over per-bucket sizes ``n`` in ONE
    aggregation pass: the largest bucket and Σ C(n, 2) candidate
    pairs, the same two restricted to buckets where ``capped`` holds
    (when given), and any ``extra`` aggregates by their alias."""
    size = F.col(n)
    pairs = size * (size - 1) / 2
    aggs = [
        F.max(size).alias("max_bucket"),
        F.sum(pairs).alias("candidate_pairs"),
    ]
    if capped is not None:
        aggs += [
            F.max(F.when(capped, size)).alias("capped_max_bucket"),
            F.sum(F.when(capped, pairs)).alias("capped_candidate_pairs"),
        ]
    out = per_key.agg(*aggs, *extra).collect()[0].asDict()
    for k in ("candidate_pairs", "capped_candidate_pairs"):
        if k in out:
            out[k] = int(out[k] or 0)
    return out


def _dominated_ids(
    sig: DataFrame, buckets: DataFrame, min_bands: int
) -> DataFrame:
    """Band probe: ids of ``sig``'s docs whose ``(band, band_sig)``
    keys hit ``buckets`` — a foreign bucket set, not a self-join — in
    at least ``min_bands`` bands."""
    return (
        sig.join(buckets, ["band", "band_sig"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bands"))
        .where(F.col("n_bands") >= min_bands)
        .select("doc_id")
    )


def ngram_gram_table(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, gram): each row's DISTINCT word n-grams, one per row —
    the shared source of the Jaccard join and the minhash tier."""
    # doc_id keeps its input type (numeric OR string ids both order)
    return fan_out(docs).select(
        "doc_id", F.explode(word_ngrams(n)).alias("gram")
    )


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs ≥ threshold.

    Distributed shape: gram-inverted-index self-join (shared-gram
    counting, :func:`_bucket_pairs`), never a doc×doc cross join.
    """
    # sizes = the per-row distinct-gram array length — same number an
    # explode+groupBy computes, minus one full shuffle branch and a
    # recompute of the gram build (r8).  The filter keeps the sizes
    # table to docs that produced grams, the same key set the
    # shared-gram side can join against.
    sizes = (
        fan_out(docs)
        .select("doc_id", F.size(word_ngrams(n)).alias("n_grams"))
        .where(F.col("n_grams") > 0)
    )
    shared = _bucket_pairs(ngram_gram_table(docs, n), "gram")
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("size_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("size_b")
    )
    j = (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared")
                / (F.col("size_a") + F.col("size_b") - F.col("shared")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return j.select("doc_a", "doc_b", "jaccard")


def _minhash_min_table(docs: DataFrame, n: int, seeds: int) -> DataFrame:
    """One row per doc with the whole signature as ``seeds`` columns
    ``_mh0.._mh{seeds-1}`` — the shared r8 core of the minhash tier.

    Shape: gram explode (fan-out guarded) → ``seeds`` md5-48 columns
    in ONE whole-stage-codegen projection → ONE map-side-combinable
    ``min`` aggregation.  The r1–r7 form exploded a second seeds× row
    blow-up and shuffled twice (seed minima, then the per-band
    collect); a per-row higher-order fold was measured SLOWER on wide
    inputs (HigherOrderFunction bodies are interpreted, not
    codegen'd — 1.8× on the adversarial corpus), so the hash stays in
    the row engine and only the row machinery is gone.  Hash values
    (md5 of ``"{seed}:{gram}"``) are byte-identical to every earlier
    round's."""
    grams = ngram_gram_table(docs, n)
    return grams.groupBy("doc_id").agg(
        *[
            F.min(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(F.lit(f"{s}:"), F.col("gram"))
                        ),
                        1,
                        12,
                    ),
                    16,
                    10,
                ).cast("long")
            ).alias(f"_mh{s}")
            for s in range(seeds)
        ]
    )


def minhash_signatures(
    docs: DataFrame, n: int = 3, seeds: int = 8
) -> DataFrame:
    """MinHash signature matrix over word n-grams: (doc_id, seed,
    minhash) — md5-salted per-seed hashes.

    Plan (r8): one gram explode, ``seeds`` codegen md5 columns, ONE
    partial-agg ``min`` shuffle (narrow: seeds longs per doc per map
    partition), then a posexplode back to rows —
    :func:`_minhash_min_table`.  Docs too short for any gram emit
    nothing, as before (they produce no gram rows)."""
    mins = _minhash_min_table(docs, n, seeds)
    return mins.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"_mh{s}") for s in range(seeds)])
        ).alias("seed", "minhash"),
    )


def minhash_dup_candidates(
    docs: DataFrame, n: int = 3, seeds: int = 8, min_agree: int = 4
) -> DataFrame:
    """LSH-style near-dup candidates: pairs agreeing on ≥ min_agree of
    the seed minima.  Equality join on (seed, minhash) buckets — the
    banding join; no cross join anywhere."""
    sig = minhash_signatures(docs, n, seeds)
    return (
        _bucket_pairs(sig, ["seed", "minhash"])
        .withColumnRenamed("shared", "n_agree")
        .where(F.col("n_agree") >= min_agree)
    )


def minhash_banded_candidates(
    docs: DataFrame,
    n: int = 3,
    bands: int = 4,
    rows: int = 2,
) -> DataFrame:
    """Standard b×r banded MinHash LSH: signature of ``bands × rows``
    minhashes; a pair is a candidate iff some band's ENTIRE r-row slice
    matches.  Returns (doc_a, doc_b, n_bands) with the agreeing-band
    count.

    Scale rationale (VERDICT r1 "What's wrong" #3): r=1 banding joins
    on a single (seed, minhash) value, so any gram shared by f docs
    creates an f-wide bucket per seed — candidate volume grows with
    gram document frequency.  Hashing r ≥ 2 rows per band makes the
    bucket key the JOINT minimum of r independent hash families:
    collision probability for Jaccard-s pairs is s^r per band
    (1-(1-s^r)^b overall — the standard S-curve), so common single
    grams no longer merge buckets and candidate volume collapses to
    near-dup pairs plus exponentially-rare accidents.  Join stays a
    bucketed equality join on (band, band_sig); no cross join.
    """
    band_sig = _band_signatures(docs, n, bands, rows)
    return _bucket_pairs(band_sig, ["band", "band_sig"]).withColumnRenamed(
        "shared", "n_bands"
    )


def minhash_band_index(
    docs: DataFrame,
    n: int = 3,
    bands: int = 4,
    rows: int = 2,
) -> DataFrame:
    """The persisted LSH bucket index of an EXISTING corpus —
    ``(doc_id, band, band_sig)`` rows.  Build once, write bucketed on
    ``(band, band_sig)`` (Iceberg/parquet bucket partitioning), and
    every incremental crawl joins THIS instead of rescanning corpus
    text: the index is the only state 10^12-doc incremental dedup
    keeps."""
    return _band_signatures(docs, n, bands, rows)


def dedup_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    n: int = 3,
    bands: int = 4,
    rows: int = 2,
    min_bands: int = 1,
) -> DataFrame:
    """Incremental (asymmetric) near-dup dedup — the pass every
    growing corpus runs per crawl: drop NEW documents whose banded
    MinHash signature collides with the EXISTING corpus's
    :func:`minhash_band_index` in ≥ ``min_bands`` bands; the old
    corpus is never rescanned and never loses documents.

    Shape: band signatures are computed for the NEW batch only, then
    one bucketed equality join on ``(band, band_sig)`` against the
    index's DISTINCT bucket keys (never doc×doc), a per-doc band
    count, and an anti-join back to the batch.  With the index stored
    bucketed on the join key the shuffle is one-sided and bounded by
    the new batch's size — incremental cost does not grow with the
    corpus.  Deduping the new batch against ITSELF is a separate
    concern (:func:`dedup_survivors`), run before or after at the
    pipeline's choice.  Returns surviving ``(doc_id, text)`` rows of
    ``new_docs``."""
    sig = _band_signatures(new_docs, n, bands, rows)
    buckets = index.select("band", "band_sig").distinct()
    dominated = _dominated_ids(sig, buckets, min_bands)
    return new_docs.join(dominated, "doc_id", "left_anti").select(
        "doc_id", "text"
    )


def _band_signatures(
    docs: DataFrame, n: int, bands: int, rows: int
) -> DataFrame:
    """(doc_id, band, band_sig) rows — the b×r LSH bucket keys shared
    by ``minhash_banded_candidates`` and ``minhash_band_stats``.

    Plan (r8): ONE shuffle — the signature lands as ``seeds`` min
    columns in a single partial-agg pass (:func:`_minhash_min_table`)
    and each band's md5-over-its-r-minhashes is a plain projection
    over them; the old form shuffled a second time through a
    per-(doc, band) collect_list.  The band signature string —
    minhashes in seed order, comma-joined — is byte-identical to the
    aggregated form's."""
    mins = _minhash_min_table(docs, n, bands * rows)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).cast("bigint").alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"_mh{b * rows + r}").cast("string")
                            for r in range(rows)
                        ],
                    )
                ).alias("band_sig"),
            )
            for b in range(bands)
        ]
    )
    return mins.select(
        "doc_id", F.explode(band_structs).alias("_bs")
    ).select("doc_id", "_bs.band", "_bs.band_sig")


def minhash_band_stats(
    docs: DataFrame,
    n: int = 3,
    bands: int = 4,
    rows: int = 2,
) -> dict:
    """Plan-evidence helper (mirrors ``simhash_candidate_stats``): max
    bucket cardinality + candidate-pair volume for a b×r banding — the
    per-round trend line VERDICT r2 #9 asked for, so r=2 bucket growth
    is tracked the same way the simhash scheme's is."""
    band_sig = _band_signatures(docs, n, bands, rows)
    per_bucket = band_sig.groupBy("band", "band_sig").agg(
        F.count("*").alias("n")
    )
    return {"bands": bands, "rows": rows, **_bucket_volume(per_bucket, "n")}


def simhash_bits(docs: DataFrame, bits: int = 48) -> DataFrame:
    """``bits``-wide SimHash over distinct words (deterministic,
    cross-engine; bits ≤ 60 so the packed value stays positive in a
    signed BIGINT on both engines — 60 bits = 15 md5 hex chars).

    Two aggregations: per (doc, bit) contribution sums, then bit
    packing — both map-side-combinable."""
    if bits > 60:
        # contract check, not a debug assert: must survive python -O
        raise ValueError("BIGINT sign-safety: at most 60 bits (15 hex chars)")
    # r8 plan: ZERO shuffles.  The old form exploded every distinct
    # word ×bits rows (48× the corpus word volume) through TWO
    # aggregation shuffles just to sum ±1 contributions per bit; the
    # sums are per-row quantities, so compute them as ``bits``
    # higher-order folds over ONE materialized hash array (one md5
    # per distinct word — unchanged, oracle-pinned) and pack the sign
    # bits in the same projection.  Bit-sum order differs but integer
    # adds commute — values identical.
    base = fan_out(docs).select(
        "doc_id",
        F.transform(
            F.array_distinct(_words()),
            lambda w: md5_hash48(w, hexchars=(bits + 3) // 4),
        ).alias("_h"),
    )
    one = F.lit(1).cast("long")
    neg = F.lit(-1).cast("long")
    zero = F.lit(0).cast("long")

    def bit_balance(s: int) -> Column:
        # (shiftright(h, s) & 1) * 2 - 1 ≡ bit-set test on mask 1<<s.
        # Closure factory, NOT a default-arg lambda: pyspark treats a
        # 3-param merge lambda as (acc, element, index) (CLAUDE.md
        # HOF-arity gotcha), and the F.shiftright wrapper misfires
        # inside lambda bodies besides.
        mask = F.lit(1 << s).cast("long")

        def merge(acc: Column, h: Column) -> Column:
            return acc + F.when(h.bitwiseAND(mask) != 0, one).otherwise(neg)

        return F.aggregate(F.col("_h"), zero, merge)

    packed = None
    for s in range(bits):
        c = bit_balance(s)
        term = F.when(c > 0, F.lit(1 << s).cast("long")).otherwise(zero)
        packed = term if packed is None else packed + term
    # null text → null word array → no output row (explode semantics
    # of the r1–r7 form, preserved)
    return base.where(F.col("_h").isNotNull()).select(
        "doc_id", packed.alias("simhash")
    )


def _block_exprs(bits: int, n_blocks: int) -> list[str]:
    """SQL expressions extracting ``n_blocks`` disjoint bit-blocks from
    a ``simhash`` column (last block absorbs the remainder)."""
    width = bits // n_blocks
    exprs = []
    for c in range(n_blocks):
        if c == n_blocks - 1:
            exprs.append(f"shiftright(simhash, {c * width})")
        else:
            exprs.append(
                f"shiftright(simhash, {c * width}) & {(1 << width) - 1}"
            )
    return exprs


def _simhash_block_keys(
    docs: DataFrame, max_hamming: int, bits: int, n_blocks: int | None
) -> tuple[DataFrame, int, int]:
    """Multi-index probe keys shared by the simhash candidate ops: one
    ``(doc_id, simhash, bkey)`` row per (doc, block combination), the
    key being the combination id plus that combination's block values.
    Returns the keyed rows, the block count and the combination count."""
    from itertools import combinations

    k = max_hamming
    n = n_blocks if n_blocks is not None else k + 2
    if n <= k:
        raise ValueError("need more blocks than allowed flipped bits")
    sig = simhash_bits(docs, bits)
    blocks = _block_exprs(bits, n)
    combos = list(combinations(range(n), n - k))
    key_arrays = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(str(ci)),
                *[F.expr(blocks[b]).cast("string") for b in combo],
            )
            for ci, combo in enumerate(combos)
        ]
    )
    keyed = sig.select(
        "doc_id", "simhash", F.explode(key_arrays).alias("bkey")
    )
    return keyed, n, len(combos)


def simhash_dup_candidates(
    docs: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup pairs with hamming ≤ max_hamming — lossless
    multi-index pigeonhole banding over the 48-bit hash.

    Split the hash into n_blocks = k+2 disjoint bit-blocks.  Hamming
    ≤ k flips at most k blocks, so every qualifying pair agrees on SOME
    (n_blocks − k)-subset of blocks; joining once per subset
    combination on the concatenated block values finds every pair
    (lossless) and the exact hamming filter runs on candidates only.

    Scale math (the round-1 plan used n_blocks = k+1, i.e. single-block
    keys: 48-bit hash, k=3 → 12-bit buckets = 4,096 values — quadratic
    per bucket at 10^12 docs).  n_blocks = k+2 gives C(k+2, 2)
    combinations of PAIRED blocks: for k=3 that is 10 probe tables
    keyed on ~19 bits (×128 more key space), for the bench's k=6 it is
    28 tables on ~12 bits (vs 64 single-block values).  More blocks
    widen keys further at C(n_blocks, k) replication cost — the
    Manku-style multi-index dial (cf. Manku et al., WWW'07, via
    PAPERS.md) that :func:`simhash_candidate_stats` measures.
    Candidate volume is bounded by dup-pair volume × C(n, k) plus
    random ~N²/2^|key| collisions, no longer by corpus size × bucket
    count.
    """
    keyed = _simhash_block_keys(docs, max_hamming, 48, None)[0]
    cands = _bucket_pairs(keyed, "bkey", "simhash")
    return (
        cands.withColumn(
            "hamming",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))),
        )
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_candidate_stats(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 48,
    n_blocks: int | None = None,
) -> dict:
    """Plan-evidence helper: candidate-pair volume and max bucket
    cardinality for a banding configuration (bench reports these for
    the r=1-style single-block scheme vs the multi-index default)."""
    keyed, n, n_combos = _simhash_block_keys(
        docs, max_hamming, bits, n_blocks
    )
    per_bucket = keyed.groupBy("bkey").agg(F.count("*").alias("n"))
    return {
        "n_blocks": n,
        "n_combos": n_combos,
        **_bucket_volume(per_bucket, "n"),
    }


def dedup_survivors(
    docs: DataFrame,
    n: int = 3,
    bands: int = 4,
    rows: int = 2,
) -> DataFrame:
    """Composed dedup job: exact dedup, then near-dup removal.

    A document survives iff (a) it has the smallest doc_id among exact
    text duplicates AND (b) no MinHash near-duplicate with a smaller
    doc_id exists.  Dominance by pair relation (not transitive
    closure): at 10^12 docs connected components need an iterative
    join loop; smallest-neighbor dominance is the standard one-pass
    approximation and is what this returns deterministically.
    Distributed shape: one hash-agg + one banding join + one anti-join.
    Candidates come from b×r banded LSH
    (:func:`minhash_banded_candidates`), where a popular single gram
    can no longer merge buckets.
    """
    # dedup_exact emits string ids for its own contract; recover the
    # input id type for the ordering-based dominance join
    id_type = dict(docs.dtypes)["doc_id"]
    exact = dedup_exact(docs).select(
        F.col("doc_id").cast(id_type).alias("doc_id"), "text"
    )
    pairs = minhash_banded_candidates(exact, n=n, bands=bands, rows=rows)
    dominated = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return exact.join(dominated, "doc_id", "left_anti").select(
        "doc_id", "text"
    )


# ------------------------------------------------- similarity search
def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_topk(emb: DataFrame, n_queries: int = 5, k: int = 5) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query set (small by
    construction), one scan over embeddings, per-query top-k window.
    The 100 TB path swaps the scan side for the IVF bucket
    (nearest_centroid) before ranking."""
    # norms once per ROW, not once per (vector, query) pair (r8): the
    # projections sit below the join, so each vector's norm is one
    # array walk instead of n_queries of them (and each query's one
    # instead of N).  Identical doubles — same fold over the same
    # array — so the rounded cosine is bit-identical.
    emb = fan_out(emb, key="vec_id")
    scan = emb.select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("_en")
    )
    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q"),
        _norm(F.col("embedding")).alias("_qn"),
    )
    pairs = scan.crossJoin(F.broadcast(queries)).where(
        F.col("vec_id") != F.col("query_id")
    )
    sim = pairs.withColumn(
        "cosine",
        F.round(
            _dot(F.col("q"), F.col("embedding"))
            / (F.col("_qn") * F.col("_en")),
            6,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            "cosine",
        )
    )


def nearest_centroid(emb: DataFrame, n_centroids: int = 8) -> DataFrame:
    """IVF building block: assign each vector to its nearest centroid
    (centroids := first n vectors; deterministic).  Broadcast join +
    argmin window — the bucket index for ANN pruning."""
    cents = emb.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c")
    )
    pairs = emb.crossJoin(F.broadcast(cents))
    dists = pairs.withColumn(
        "dist",
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    F.col("c"),
                    lambda x, y: (x.cast("double") - y.cast("double"))
                    * (x.cast("double") - y.cast("double")),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        ),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("dist").asc(), F.col("centroid_id").asc()
    )
    return (
        dists.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") == 1)
        .select("vec_id", "centroid_id", "dist")
    )


# embeddings quantize once to floor(x * VEC_SCALE) BIGINTs (kmeans, PQ)
VEC_SCALE = 1_000_000


def _quantized(vec: Column) -> Column:
    """``vec`` (array<double>) as ``floor(x * VEC_SCALE)`` BIGINTs —
    the one quantization the vector tier and its oracles share."""
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * VEC_SCALE).cast("long")
    )


def _l2_q(a: Column, b: Column) -> Column:
    """Exact BIGINT L2 fold over two quantized vectors (array order —
    deterministic both engines; shared by kmeans assignment and PQ)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def kmeans_centroids(
    emb: DataFrame,
    n_centroids: int = 8,
    iters: int = 3,
) -> DataFrame:
    """Distributed Lloyd k-means with a FIXED iteration count
    (VERDICT r5 #4) — trains the IVF coarse quantizer from the
    vectors themselves instead of seeding it with the first ``k``
    rows.  Returns ``(centroid_id, centroid, n_members)`` where
    ``centroid`` is the mean vector in quantized integer space and
    ``n_members`` the final assignment count (0 for a cluster that
    went empty; its coords then carry the previous round's value).

    Cross-engine exactness (the reason for integer space): per-
    cluster float means are order-dependent sums, so Spark and a SQL
    oracle would disagree in the last ulp and diverge completely
    after one reassignment.  Instead every vector is quantized ONCE
    — ``floor(x * VEC_SCALE)`` as BIGINT, identical both engines — and
    all k-means arithmetic stays integer: L2 distances are exact
    BIGINT folds in array order, means use truncating integer
    division (``div`` / ``//`` both truncate toward zero), ties
    break on ``centroid_id``.  DuckDB recomputes IDENTICAL centroids
    from the same parquet.

    Init: the ``n_centroids`` vectors with smallest
    ``(md5_hash48('kmeans|' || id), id)`` — a deterministic uniform
    draw (no RNG), labeled 0..k-1 in that order.

    Distributed shape, per iteration: ONE scan of the quantized
    vectors cross-joined against the BROADCAST k-row centroid table,
    argmin via ``min_by`` groupBy (map-side partial agg — no skewed
    window), then posexplode → per-(centroid, dim) sum/count (k×dim
    groups, trivially parallel).  ``iters`` is a fixed round count
    run through :class:`_Rounds`: the quantized vectors are pinned
    once and each round's k-row centroid table is materialized (a
    round reads it twice, so a lazy plan doubled per round).
    At 10^12 vectors each round is a linear scan plus a k×dim-sized
    reduction — the textbook scalable Lloyd."""
    if n_centroids < 1 or iters < 1:
        raise ValueError("n_centroids and iters must be >= 1")

    def _round(q: DataFrame, cents: DataFrame) -> DataFrame:
        ass = (
            q.crossJoin(F.broadcast(cents))
            .select(
                "vec_id",
                "qv",
                "centroid_id",
                _l2_q(F.col("qv"), F.col("cv")).alias("dist"),
            )
            .groupBy("vec_id")
            .agg(
                F.min_by(
                    "centroid_id", F.struct("dist", "centroid_id")
                ).alias("centroid_id"),
                F.first("qv").alias("qv"),
            )
        )
        agg = (
            ass.select(
                "centroid_id", F.posexplode("qv").alias("dim_idx", "v")
            )
            .groupBy("centroid_id", "dim_idx")
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
            .select(
                "centroid_id",
                "dim_idx",
                F.expr("s div n").alias("coord"),
                "n",
            )
        )
        new = agg.groupBy("centroid_id").agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("dim_idx", "coord"))
                ),
                lambda s: s["coord"],
            ).alias("cv_new"),
            F.max("n").alias("n_members"),
        )
        # an empty cluster keeps its previous coords (deterministic
        # both engines; n_members 0)
        return (
            cents.select("centroid_id", "cv")
            .join(new, "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce("cv_new", "cv").alias("cv"),
                F.coalesce("n_members", F.lit(0)).alias("n_members"),
            )
        )

    with _Rounds(emb.sparkSession) as rounds:
        q = rounds.pin(
            emb.select(
                F.col("vec_id").alias("vec_id"),
                _quantized(F.col("embedding")).alias("qv"),
            )
        )
        h = md5_hash48(F.col("vec_id").cast("string"), salt="kmeans|")
        seed = (
            q.select("vec_id", "qv", h.alias("h"))
            .orderBy("h", "vec_id")
            .limit(n_centroids)
        )
        wseed = Window.orderBy("h", "vec_id")
        cents = rounds.next(
            seed.select(
                (F.row_number().over(wseed) - 1)
                .cast("long")
                .alias("centroid_id"),
                F.col("qv").alias("cv"),
            )
        )
        for _ in range(iters):
            cents = rounds.next(_round(q, cents))
        return rounds.result(
            cents.select(
                "centroid_id", F.col("cv").alias("centroid"), "n_members"
            )
        )


def ivf_topk(
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Composed IVF ANN query: centroid prune → cosine rank (VERDICT r1
    next-round #4).  Deterministic centroids (first ``n_centroids``
    vectors, as in ``nearest_centroid``); each query probes its
    ``n_probe`` nearest centroids and ranks cosine top-k ONLY over
    vectors assigned to those buckets.

    Pass ``centroids`` — ``(centroid_id, c: array<double>)``, e.g.
    :func:`kmeans_centroids` output unscaled back to doubles — to
    probe a TRAINED coarse quantizer instead of the first-``k`` seed
    (VERDICT r5 #4); ``n_centroids`` is ignored then.

    Distributed shape: centroids broadcast twice (assignment +
    query-probe ranking — both tiny), the probe table (n_queries ×
    n_probe rows) broadcast into the candidate join, ONE scan over the
    embedding table for assignment.  At 10^12 vectors the scan side
    stays a single pass and the per-query ranking touches ~n_probe/
    n_centroids of the corpus instead of all of it — that is the prune
    ``cosine_topk`` lacks.  Recall is the standard IVF trade: a true
    neighbor in an unprobed bucket is missed; raise ``n_probe`` to
    dial it back (the oracle pins EXACTLY this semantics, restricted
    brute force over probed buckets).
    """
    emb = fan_out(emb, key="vec_id")
    if centroids is None:
        cents = emb.where(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("c"),
        )
    else:
        cents = centroids.select("centroid_id", "c")
    # assignment: one scan, broadcast centroids, argmin (min_by —
    # map-side partial agg, no skewed window)
    ad = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "centroid_id",
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    F.col("c"),
                    lambda x, y: (x.cast("double") - y.cast("double"))
                    * (x.cast("double") - y.cast("double")),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        ).alias("dist"),
    )
    assign = ad.groupBy("vec_id").agg(
        F.min_by("centroid_id", F.struct("dist", "centroid_id")).alias(
            "centroid_id"
        )
    )
    # query → probed centroids (same L2 metric as assignment)
    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    qd = queries.crossJoin(F.broadcast(cents)).withColumn(
        "dist",
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col("q"),
                    F.col("c"),
                    lambda x, y: (x.cast("double") - y.cast("double"))
                    * (x.cast("double") - y.cast("double")),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        ),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("centroid_id").asc()
    )
    probes = (
        qd.withColumn("prank", F.row_number().over(wq))
        .where(F.col("prank") <= n_probe)
        .select(
            "query_id", "centroid_id", "q",
            # query norm once per probe row (≤ n_probe per query),
            # not once per candidate pair (r8) — identical doubles
            _norm(F.col("q")).alias("_qn"),
        )
    )
    # candidates: vectors in probed buckets (probe table broadcast);
    # vector norms once per scan row, below the joins (r8)
    cand = emb.select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("_en")
    ).join(assign, "vec_id").join(
        F.broadcast(probes), "centroid_id"
    ).where(F.col("vec_id") != F.col("query_id"))
    sim = cand.withColumn(
        "cosine",
        F.round(
            _dot(F.col("q"), F.col("embedding"))
            / (F.col("_qn") * F.col("_en")),
            6,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), "rank", "cosine"
        )
    )


def embed_hashing(docs: DataFrame, dim: int = 16) -> DataFrame:
    """Hashing-trick document embedding (VERDICT r4 #6): token →
    hash bucket with a hash-derived ±1 sign, signed counts summed per
    bucket, L2-normalized — the classic feature-hashing sketch
    (Weinberger et al. 2009), so SemDeDup / IVF / cosine ops compose
    with the REAL extraction output instead of driver-synthesized
    vectors.

    Distributed shape: ZERO-shuffle, pure JVM higher-order functions —
    tokenize (the same ``\\w+|[^\\w\\s]`` pre-tokenizer as
    :func:`_n_tokens`), one ``transform`` to (bucket, sign) pairs
    (ONE hash per token), one ``aggregate`` folding into a
    ``dim``-wide count array, one normalize pass.  Per-row cost is
    O(tokens × dim) for the fold — right for sketch-sized dims
    (16–64); a pivot via explode+groupBy would add a shuffle to win
    only at dims far beyond sketch size.  Embarrassingly parallel at
    10^12 docs.

    Token hash: the blessed cross-engine md5-48 form, so DuckDB
    oracles mirror it exactly.  Bucket = low bits (pmod), sign = the
    HIGH bit 47, so they are independent.

    Returns (doc_id, embedding array<double>); all-empty docs get the
    zero vector (no NaN from 0/0)."""
    if dim < 1:
        raise ValueError("dim must be >= 1")
    toks = F.regexp_extract_all(
        F.lower(F.coalesce(F.col("text"), F.lit(""))),
        F.lit(r"\w+|[^\w\s]"),
        0,
    )
    hashes = F.transform(toks, lambda t: md5_hash48(t, salt="emb:"))
    pairs = F.transform(
        hashes,
        lambda h: F.struct(
            F.pmod(h, F.lit(dim)).cast("int").alias("b"),
            F.when(
                F.pmod(F.shiftright(h, 47), F.lit(2)) == 0,
                F.lit(1),
            )
            .otherwise(F.lit(-1))
            .cast("long")
            .alias("s"),
        ),
    )
    zeros = F.array_repeat(F.lit(0).cast("long"), dim)
    counts = F.aggregate(
        pairs,
        zeros,
        lambda acc, p: F.transform(
            acc,
            lambda v, i: v
            + F.when(p["b"] == i, p["s"]).otherwise(F.lit(0).cast("long")),
        ),
    )
    with_counts = docs.select("doc_id", counts.alias("_c"))
    norm2 = F.aggregate(
        F.col("_c"),
        F.lit(0).cast("long"),
        lambda a, v: a + v * v,
    )
    with_norm = with_counts.withColumn("_n2", norm2)
    embedding = F.when(
        F.col("_n2") > 0,
        F.transform(
            F.col("_c"),
            lambda v: v.cast("double")
            / F.sqrt(F.col("_n2").cast("double")),
        ),
    ).otherwise(F.transform(F.col("_c"), lambda v: F.lit(0.0)))
    return with_norm.select("doc_id", embedding.alias("embedding"))


def embedding_dup_candidates(
    emb: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 8,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (the brief's fifth dedup
    method): vectors assigned to the SAME centroid bucket whose cosine
    ≥ threshold.

    Distributed shape: one scan for centroid assignment (broadcast
    centroids), then a bucket-equality self-join — candidate volume is
    Σ bucket² instead of N², the IVF analog of LSH banding.  Bucketing
    is the declared semantics (not a lossy approximation of an
    all-pairs oracle): near-identical embeddings land in the same
    bucket by construction, and cross-bucket borderline pairs are the
    recall dial (`n_centroids` down = recall up).  The oracle pins
    exactly this: same-bucket pairs ≥ threshold.
    """
    assign = nearest_centroid(emb, n_centroids).select(
        "vec_id", "centroid_id"
    )
    v = emb.join(assign, "vec_id")
    a = v.alias("a")
    b = v.alias("b")
    pairs = (
        a.join(b, "centroid_id")
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.embedding").alias("ea"),
            F.col("b.embedding").alias("eb"),
        )
    )
    return (
        pairs.withColumn(
            "cosine",
            F.round(
                _dot(F.col("ea"), F.col("eb"))
                / (_norm(F.col("ea")) * _norm(F.col("eb"))),
                6,
            ),
        )
        .where(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def parse_robots(
    robots: DataFrame,
) -> DataFrame:
    """Parse robots.txt bodies → (host, agent, directive, value)
    rows (RFC 9309 grouping): consecutive ``User-agent`` lines form
    one group sharing the directives that follow; a ``User-agent``
    after a directive starts a new group; rules before any group are
    ignored; ``Sitemap`` is group-independent (emitted with agent
    NULL).  Keys are case-insensitive, inline ``#`` comments strip,
    blank/comment-only lines skip.  Pure JVM: split+posexplode, two
    regexes, one per-doc window for the group ids (a robots.txt is
    KBs — per-doc windows never skew), one equality join."""
    # strip a UTF-8 BOM: Java \\s excludes U+FEFF, so a BOM-prefixed
    # first line would silently drop the leading User-agent and fail
    # the whole gate open (code-review r3b; reference parsers strip it)
    body = F.regexp_replace(F.col("text"), "^\\uFEFF", "")
    lines = robots.select(
        "host",
        F.posexplode(F.split(body, "\n")).alias("pos", "line"),
    )
    parsed = (
        lines.select(
            "host",
            "pos",
            F.lower(
                F.regexp_extract("line", r"^\s*([A-Za-z-]+)\s*:", 1)
            ).alias("key"),
            F.trim(
                F.regexp_replace(
                    F.regexp_extract(
                        "line", r"^\s*[A-Za-z-]+\s*:\s*([^#]*)", 1
                    ),
                    r"\s+$",
                    "",
                )
            ).alias("value"),
        )
        .where(F.col("key") != "")
    )
    w = Window.partitionBy("host").orderBy("pos")
    # EVERY parsed non-user-agent line (rules, sitemap, unknown keys)
    # acts as a group SEPARATOR: a user-agent line after any of them
    # starts a new group.  This is the symmetric seen-separator
    # semantics of the reference robots parsers (code-review r3d
    # settled the sitemap/unknown asymmetry this way), and it keeps
    # 'UA: A / Sitemap / UA: *' as TWO groups — A stays an empty
    # allow-everything group
    grouped = (
        parsed.withColumn("prev_key", F.lag("key").over(w))
        .withColumn(
            "grp_start",
            (
                (F.col("key") == "user-agent")
                & (
                    F.col("prev_key").isNull()
                    | (F.col("prev_key") != "user-agent")
                )
            ).cast("int"),
        )
        .withColumn("grp", F.sum("grp_start").over(w))
    )
    agents = grouped.where(F.col("key") == "user-agent").select(
        "host", "grp", F.lower(F.col("value")).alias("agent")
    )
    directives = grouped.where(
        F.col("key").isin("disallow", "allow", "crawl-delay")
    ).select("host", "grp", F.col("key").alias("directive"), "value")
    rules = agents.join(directives, ["host", "grp"]).select(
        "host", "agent", "directive", "value"
    )
    sitemaps = grouped.where(F.col("key") == "sitemap").select(
        "host",
        F.lit(None).cast("string").alias("agent"),
        F.lit("sitemap").alias("directive"),
        "value",
    )
    # group-presence rows: an agent group with NO directives (or only
    # a sitemap after it) must still exist — RFC 9309 treats a matched
    # empty group as allow-everything, suppressing the * group
    # (code-review r3c); robots_gate keys its group selection on these
    presence = agents.select(
        "host",
        "agent",
        F.lit("user-agent").alias("directive"),
        F.lit("").alias("value"),
    ).distinct()
    return rules.unionByName(sitemaps).unionByName(presence)


def robots_gate(
    urls: DataFrame,
    rules: DataFrame,
    agent: str,
) -> DataFrame:
    """Per-URL allow/deny against :func:`parse_robots` output for
    ``agent``, with full RFC 9309 matching: literal prefixes, ``*``
    wildcards, and a trailing ``$`` end anchor (wildcard rules
    compile to anchored regexes; plain rules keep the cheap
    startswith path).  Group selection: the host's rules for
    ``agent`` if any exist, else its ``*`` rules.  Precedence:
    longest matching RULE wins (pattern octets per the RFC); on a
    length tie, allow wins (score = 2*len + is_allow, a single
    integer both engines compare identically).  URLs with no
    matching rule are allowed.

    Documented approximation: percent-encoding is NOT normalized
    before comparison (RFC 9309 §2.2.2 decodes both sides except
    %2F) — rules and paths compare in their wire form; crawlers that
    emit canonical encodings are unaffected.

    Plan: one broadcast-or-shuffle join on host + one hash-agg —
    rules tables are tiny next to URL sets, so mark the rules side
    broadcastable upstream when hosts are few."""
    al = agent.lower()
    # group existence is judged on ALL of the agent's rules (an
    # allow-everything group is just 'Disallow:' with an empty value,
    # or only a crawl-delay): its presence must still suppress the *
    # group per RFC 9309 (code-review r3b)
    hosts_with = (
        rules.where(F.col("agent") == al).select("host").distinct()
    )
    path_rules = rules.where(
        F.col("directive").isin("disallow", "allow")
        & (F.col("value") != "")
    )
    target = path_rules.where(F.col("agent") == al)
    fallback = path_rules.where(F.col("agent") == "*").join(
        hosts_with, "host", "left_anti"
    )
    # RFC 9309 matching: '*' matches any char run, a TRAILING '$'
    # anchors the end; plain rules stay on the cheap literal-prefix
    # path.  Wildcard rules PRE-compile to an anchored regex on the
    # tiny rules table (never per joined row): consecutive stars
    # collapse, the trailing $ is kept as the anchor, every other
    # metacharacter is escaped.  Backtracking guard: Java regex (not
    # RE2) is exponential in the star count, so rules with more than
    # 2 stars — far beyond any real robots.txt; an adversarial host
    # could otherwise stall the stage — are ignored for matching
    # (fail-open is the right direction for a gating advisory).
    star_runs = F.regexp_replace(F.col("value"), r"\*+", "*")
    n_stars = F.length(star_runs) - F.length(
        F.regexp_replace(star_runs, r"\*", "")
    )
    has_wild = (
        F.col("value").contains("*") | F.col("value").endswith("$")
    )
    anchored = F.col("value").endswith("$")
    body = F.when(
        anchored,
        F.expr("substring(value, 1, length(value) - 1)"),
    ).otherwise(F.col("value"))
    body = F.regexp_replace(body, r"\*+", "*")
    esc = F.regexp_replace(body, r"([.^$+?(){}\[\]\\|])", r"\\$1")
    rule_re = F.concat(
        F.lit("^"),
        F.regexp_replace(esc, r"\*", ".*"),
        F.when(anchored, F.lit("$")).otherwise(F.lit("")),
    )
    eff = (
        target.unionByName(fallback)
        .where(n_stars <= 2)
        .select(
            "host",
            "directive",
            "value",
            has_wild.alias("_wild"),
            F.when(has_wild, rule_re).alias("_re"),
        )
    )
    # the match target is path + query (RFC 9309 §2.2.2 matches the
    # path INCLUDING the query — '/*?sessionid=' rules must work);
    # only the fragment is stripped
    path0 = F.regexp_extract(
        F.col("url"), r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^#]*)", 1
    )
    u = urls.withColumn(
        "_path", F.when(path0 == "", F.lit("/")).otherwise(path0)
    )
    joined = u.join(eff, "host", "left")
    matches = F.when(
        F.col("value").isNull(), F.lit(False)
    ).when(
        F.col("_wild"), F.regexp_like(F.col("_path"), F.col("_re"))
    ).otherwise(F.col("_path").startswith(F.col("value")))
    # precedence: longest RULE in OCTETS (per the RFC — non-ASCII
    # rules score by byte length), allow wins length ties
    score = F.when(
        matches,
        2 * F.octet_length("value")
        + (F.col("directive") == "allow").cast("int"),
    )
    return (
        joined.groupBy("host", "url")
        .agg(F.max(score).alias("_best"))
        .select(
            "host",
            "url",
            (
                F.col("_best").isNull() | (F.col("_best") % 2 == 1)
            ).alias("allowed"),
        )
    )


# a robots directive list contains noindex/none as its own
# comma/space-delimited token; "nonewidget" or "noindexing" must not
# match (values are already lowercased by the header extract / the
# explicit lower() on meta content)
_NOINDEX_RE = r"(^|[\s,])(noindex|none)($|[\s,:])"


def crawl_delay(
    rules: DataFrame,
    agent: str,
) -> DataFrame:
    """Effective ``Crawl-delay`` per host for ``agent`` from
    :func:`parse_robots` output — the de-facto politeness directive
    (not in RFC 9309 but honored by Bing/Yandex and emitted by a
    large fraction of real robots.txt files).

    Group selection mirrors :func:`robots_gate`: if the host has ANY
    group for ``agent`` (even one without a crawl-delay — presence
    rows carry this), that group is selected and the ``*`` group is
    suppressed entirely, so a specific group without a delay yields
    NULL (caller's default applies), never the wildcard's value.
    Multiple delays in scope take the MAX (politeness: when a file
    disagrees with itself, crawl slower); non-numeric values are
    NULL via ``try_cast`` and ignored.  One hash-agg on the host
    key, map-side combinable."""
    al = agent.lower()
    mine = rules.where(F.col("agent").isin(al, "*"))
    is_delay = F.col("directive") == "crawl-delay"
    num = F.col("value").try_cast("double")
    per_host = mine.groupBy("host").agg(
        F.max((F.col("agent") == al).cast("int")).alias("has_specific"),
        F.max(
            F.when((F.col("agent") == al) & is_delay, num)
        ).alias("spec_delay"),
        F.max(
            F.when((F.col("agent") == "*") & is_delay, num)
        ).alias("star_delay"),
    )
    return per_host.select(
        "host",
        F.when(F.col("has_specific") == 1, F.col("spec_delay"))
        .otherwise(F.col("star_delay"))
        .alias("crawl_delay"),
    )


def fetch_schedule(
    frontier: DataFrame,
    delays: DataFrame,
    order_col: str | None = None,
) -> DataFrame:
    """Politeness-scheduled fetch offsets: per host, URLs are ordered
    deterministically and the k-th fetch is scheduled at
    ``(k-1) * delay`` seconds, where ``delay`` is the host's
    :func:`crawl_delay` (1 s when the host declares none).  This is the planning half of a polite frontier — the
    per-host serialization real fetchers enforce with token buckets,
    made explicit so capacity planning (``max(fetch_at_s)`` per host
    = how long that host's slice takes) is a query, not a simulation.

    Default order is lexicographic by URL.  ``order_col`` names a
    PRIORITY column on the frontier (e.g. ``n_sources`` from
    :func:`anchor_text_stats` — crawl the most-referenced pages
    first, the classic indegree frontier policy): highest priority
    fetches first, NULLS LAST explicitly (Spark and DuckDB default
    opposite ways on DESC — the r4 anchor-stats lesson), URL as the
    final tie-break so the schedule stays deterministic.

    Plan: one left join on the host key + one per-host window.
    Scale shape: parallelism = number of hosts (the politeness
    constraint itself is per-host sequential, so this is the true
    dependency structure, not an artifact); no global sort, no
    driver state.  A pathological single-host frontier is bounded by
    that host's slice — exactly the wall-clock its politeness delay
    implies anyway."""
    if order_col is not None:
        order = [F.col(order_col).desc_nulls_last(), F.col("url")]
    else:
        order = [F.col("url")]
    w = Window.partitionBy("host").orderBy(*order)
    joined = frontier.join(delays, "host", "left")
    d = F.coalesce(F.col("crawl_delay"), F.lit(1.0))
    return joined.select(
        "host",
        "url",
        ((F.row_number().over(w) - 1) * d).alias("fetch_at_s"),
    )


def unified_article_meta(spans: DataFrame) -> DataFrame:
    """ONE (headline, published, author) row per document, coalesced
    across every metadata channel the extractor emits — precedence
    JSON-LD > Microdata > RDFa > meta tags (richest and most
    deliberate first, the practical order structured-data consumers
    use).  Input: the exploded span table with ``emit_head_meta`` +
    ``emit_jsonld`` + ``emit_microdata`` + ``emit_rdfa`` on.
    Channel field mapping:

    * jsonld: ``$.headline`` / ``$.datePublished`` /
      ``$.author.name`` via ``get_json_object`` (JVM) over ``jsonld``
      spans — the FIRST span (lowest offset) with a headline wins
      within the channel;
    * microdata/rdfa: item paths ``<idx>:headline``,
      ``<idx>:datePublished``, ``<idx>:author.name`` — top-level
      items only (anchored on the ``<idx>:`` prefix);
    * meta: ``og:title`` / ``article:published_time`` / ``author``.

    Plan: four filtered projections of ONE span table (Spark reuses
    the scan), each min_by-aggregated per doc, then three
    co-partitioned left joins on the doc key — linear, no Python."""
    sp = spans

    def chan(pred, value_col, rank):
        return sp.where(pred).select(
            "doc_id",
            F.col("offset").alias("_off"),
            value_col.alias("_v"),
            F.lit(rank).alias("_rank"),
        ).where(F.col("_v").isNotNull() & (F.col("_v") != ""))

    def field(sources):
        u = sources[0]
        for s in sources[1:]:
            u = u.unionByName(s)
        # channel rank first, then document order inside the channel
        return u.groupBy("doc_id").agg(
            F.min_by("_v", F.struct("_rank", "_off")).alias("_best")
        )

    is_jsonld = F.col("kind") == "jsonld"
    is_md = F.col("kind").isin("microdata", "rdfa")
    top_prop = lambda prop: F.col("media_ref").rlike(
        r"^\d+:" + prop + r"$"
    )
    is_meta = F.col("kind") == "meta"

    headline = field([
        chan(is_jsonld, F.get_json_object("text", "$.headline"), 0),
        chan(is_md & top_prop("headline"), F.col("text"), 1),
        chan(is_meta & (F.col("media_ref") == "og:title"),
             F.col("text"), 2),
        chan(is_meta & (F.col("media_ref") == "title"),
             F.col("text"), 3),
    ]).withColumnRenamed("_best", "headline")
    published = field([
        chan(is_jsonld,
             F.get_json_object("text", "$.datePublished"), 0),
        chan(is_md & top_prop("datePublished"), F.col("text"), 1),
        chan(is_meta
             & (F.col("media_ref") == "article:published_time"),
             F.col("text"), 2),
    ]).withColumnRenamed("_best", "published")
    author = field([
        chan(is_jsonld,
             F.get_json_object("text", "$.author.name"), 0),
        chan(is_md & top_prop(r"author\.name"), F.col("text"), 1),
        chan(is_meta & (F.col("media_ref") == "author"),
             F.col("text"), 2),
    ]).withColumnRenamed("_best", "author")

    docs = sp.select("doc_id").distinct()
    return (
        docs.join(headline, "doc_id", "left")
        .join(published, "doc_id", "left")
        .join(author, "doc_id", "left")
    )


def resolve_links_with_base(
    spans: DataFrame,
    page_urls: DataFrame,
) -> DataFrame:
    """Resolve link spans honoring ``<base href>`` (HTML §4.2.3: the
    FIRST base element sets the document base; later ones are
    ignored).  ``spans`` is the exploded span table carrying both the
    ``('meta', value, 'base')`` rows (``emit_head_meta``) and the
    ``('link', anchor, href)`` rows (``emit_links``); ``page_urls``
    maps ``doc_id`` → ``page_url`` (the fetch URL — a WARC target
    URI).  The base href may itself be relative, so it first resolves
    against the page URL, then each link resolves against the
    effective base.  Docs with no base span fall back to the page
    URL.  Output: ``(doc_id, href, url)`` per link span.

    Plan: one min_by hash-agg over the (tiny) base-span subset + two
    co-partitioned joins on the doc key — linear at any corpus
    size."""
    base = (
        spans.where(
            (F.col("kind") == "meta") & (F.col("media_ref") == "base")
        )
        .groupBy("doc_id")
        .agg(F.min_by("text", "offset").alias("_base_href"))
    )
    links = spans.where(F.col("kind") == "link").select(
        "doc_id", F.col("media_ref").alias("href")
    )
    joined = (
        links.join(page_urls, "doc_id", "left")
        .join(base, "doc_id", "left")
    )
    effective = F.when(
        F.col("_base_href").isNotNull(),
        absolutize_url(F.col("page_url"), F.col("_base_href")),
    ).otherwise(F.col("page_url"))
    return joined.select(
        "doc_id",
        "href",
        absolutize_url(effective, F.col("href")).alias("url"),
    )


def noindex_gate(
    records: DataFrame,
    spans: DataFrame,
) -> DataFrame:
    """Per-document indexability from BOTH robots channels — the
    ``X-Robots-Tag`` response header (``records.http_xrobots``, as
    :func:`zhtml_spark.sources.parse_warc_records` emits, keyed by
    ``warc_url``) and ``<meta name=robots>`` content (``spans`` rows
    with ``kind='meta'``, ``media_ref='robots'`` — the
    ``emit_head_meta`` extraction output).  A ``noindex`` or ``none``
    token in EITHER excludes the document; output is one row per
    record: ``(doc_id, indexable, reason)`` with ``reason`` ∈
    ``header`` / ``meta`` / ``''`` (header wins the label when both
    fire).  Documents whose pages declare no robots meta stay
    indexable (left join).

    Documented approximation: agent-scoped header directives
    (``X-Robots-Tag: googlebot: noindex``) are treated as global —
    the conservative reading for a training-data pipeline (when any
    agent is told noindex, err toward exclusion).

    Plan: one hash-agg over the (tiny) robots-meta span subset + one
    left join on the doc key; both co-partition on ``doc_id``, no
    other shuffle — linear at any corpus size."""
    hdr = records.select(
        F.col("warc_url").alias("doc_id"),
        F.lower(F.coalesce(F.col("http_xrobots"), F.lit("")))
        .rlike(_NOINDEX_RE)
        .alias("_hdr_no"),
    )
    meta = (
        spans.where(
            (F.col("kind") == "meta")
            & (F.col("media_ref") == "robots")
        )
        .groupBy("doc_id")
        .agg(
            F.max(
                F.lower(F.coalesce(F.col("text"), F.lit(""))).rlike(
                    _NOINDEX_RE
                )
            ).alias("_meta_no")
        )
    )
    meta_no = F.coalesce(F.col("_meta_no"), F.lit(False))
    return hdr.join(meta, "doc_id", "left").select(
        "doc_id",
        (~F.col("_hdr_no") & ~meta_no).alias("indexable"),
        F.when(F.col("_hdr_no"), F.lit("header"))
        .when(meta_no, F.lit("meta"))
        .otherwise(F.lit(""))
        .alias("reason"),
    )


def embedding_dedup_survivors(
    emb: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 8,
) -> DataFrame:
    """Semantic dedup (SemDeDup-style): keep one representative per
    embedding-cosine near-dup relation — a vector survives iff no
    near-duplicate with a smaller ``vec_id`` exists (the same
    smallest-neighbor dominance rule :func:`dedup_survivors` uses for
    MinHash; one-pass approximation of connected components,
    deterministic).  Distributed shape: the IVF-bucketed candidate
    join of :func:`embedding_dup_candidates` plus ONE anti-join —
    never an all-pairs comparison."""
    cands = embedding_dup_candidates(emb, threshold, n_centroids)
    # vec_a < vec_b by construction → the b side is dominated
    losers = cands.select(F.col("vec_b").alias("vec_id")).distinct()
    return emb.join(losers, "vec_id", "left_anti").select("vec_id")


# winnowing gram width and window (k + window - 1 = 11: any shared
# run of 11+ chars shares a fingerprint)
WINNOW_K = 8
WINNOW_WINDOW = 4


def winnow_fingerprints(
    docs: DataFrame, hash_fn: str = "xxhash64"
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 "Winnowing: Local Algorithms for Document
    Fingerprinting"): hash every character k-gram (``WINNOW_K``),
    slide a ``WINNOW_WINDOW``-wide window over the hash sequence,
    keep each window's minimum.  Guarantee: any substring match of
    length >= k + window - 1 contributes at least one shared
    fingerprint; expected selection density ~2/(window+1).

    Plan: pure per-row map — higher-order functions build the k-gram
    hash array and the windowed minima (a ``least`` chain inside
    ``transform``), ``array_distinct`` dedups per doc, then
    one explode; memory per row is O(n_chars).  The only exchange is
    :func:`fan_out`'s scan-width guard, and only when the input scan
    is narrower than the session (r8).

    ``hash_fn`` picks the per-k-gram hash (VERDICT r3 #4: one hash
    per CHARACTER POSITION is this op's whole constant factor):

    * ``"xxhash64"`` (DEFAULT, engine path) — Spark's native 64-bit
      hash, no hex round-trip, ~2× cheaper than md5 per position.
      Any stable integer hash yields a valid winnowing scheme (the
      SIGMOD'03 guarantee needs only determinism), but DuckDB has no
      xxhash64, so this form is pytest-gated, not oracle-gated.
    * ``"md5"`` — the blessed cross-engine md5-48 form
      (``conv(substr(md5(x),1,12))``), identical in DuckDB; the
      oracle-checked queries pin this.

    Only FULL windows fingerprint (docs shorter than k + window - 1
    chars emit nothing) so engine boundaries are well-defined.
    Returns (doc_id, fp) rows, distinct per doc."""
    min_len = WINNOW_K + WINNOW_WINDOW - 1
    empty = "CAST(array() AS ARRAY<BIGINT>)"
    # grams from the linear arrays_zip builder, not per-position
    # substring(text, j, k): positional substring re-scans from byte
    # 0 per call → quadratic per doc; giant web pages made this 20×
    # (r5, _char_gram_expr).  r8: hash fused into the gram lambda —
    # the gram-string array never materializes (_char_gram_expr)
    hashes = _char_gram_expr("text", WINNOW_K, _gram_hash(hash_fn))
    # window minimum as a flat least() chain of element_at lookups —
    # stays inside codegen with no per-position slice() array
    # allocation (VERDICT r4 #5: the post-xxhash64 cost is this stage's
    # intermediate volume)
    win_min = "least({})".format(
        ", ".join(f"element_at(h, i + {d})" for d in range(WINNOW_WINDOW))
    )
    mins = (
        f"CASE WHEN length(text) < {min_len} THEN {empty} ELSE "
        f"transform(sequence(1, length(text) - {min_len} + 1), "
        f"i -> {win_min}) END"
    )
    # consecutive windows usually share their minimum (expected
    # selection density 2/(window+1)); dropping adjacent repeats
    # BEFORE array_distinct cuts its input ~(window+1)/2× and changes
    # nothing — the distinct VALUE set is identical by construction
    # greatest(i-1, 0) keeps the subscript in range at i=0 (SQL OR is
    # not guaranteed short-circuit; ANSI mode would throw on m[-1]) —
    # the i=0 disjunct then decides that row
    fps = (
        "array_distinct(filter(m, "
        "(v, i) -> i = 0 OR v <> m[greatest(i - 1, 0)]))"
    )
    return (
        fan_out(docs, key="doc_id")
        .select("doc_id", "text")
        .withColumn("h", F.expr(hashes))
        .withColumn("m", F.expr(mins))
        .select("doc_id", F.explode(F.expr(fps)).alias("fp"))
    )


def winnow_dup_candidates(
    docs: DataFrame,
    min_shared: int = 2,
    max_doc_freq: int = 50,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup candidate pairs sharing >= ``min_shared`` winnowing
    fingerprints — the inverted-index self-join over
    :func:`winnow_fingerprints` (``hash_fn`` forwarded: engine default
    xxhash64, oracles pin md5), with the standard doc-frequency cap
    (fingerprints shared by more than ``max_doc_freq`` docs are
    boilerplate and dropped, bounding the per-bucket join at
    max_doc_freq² — :func:`_shared_keys`).
    Plan (r5): df-capped POSTING-LIST pair expansion instead of the
    fp×fp self-join — after the frequency gate every posting list is
    ≤ ``max_doc_freq`` entries, so ``collect_list`` per fingerprint is
    bounded (never the unbounded-group OOM of an uncapped collect)
    and the i<j pairs come from one higher-order flatten.  One fewer
    shuffle than the self-join (the a/b sides shuffled `kept` twice),
    no join, identical pair counts.

    Returns (doc_a, doc_b, shared) with doc_a < doc_b."""
    fps = winnow_fingerprints(docs, hash_fn)
    kept = fps.join(_shared_keys(fps, "fp", max_doc_freq), "fp")
    posting = kept.groupBy("fp").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    pairs = F.explode(
        F.expr(
            "flatten(transform(ids, (a, i) -> "
            "transform(slice(ids, i + 2, size(ids)), "
            "b -> struct(a AS doc_a, b AS doc_b))))"
        )
    ).alias("p")
    return (
        posting.select(pairs)
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"))
        .where(F.col("shared") >= min_shared)
    )


def _persistent_rdd_ids(spark) -> set:
    """Ids of every RDD currently holding storage blocks (internal
    `_jsc` accessor: the public API cannot enumerate or free
    ``localCheckpoint`` blocks)."""
    return set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )


def _unpersist_rdd_ids(spark, ids) -> None:
    """Release storage blocks for the given RDD ids (non-blocking); ids
    already cleaned by the ContextCleaner are skipped."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        rdd = jmap.get(rid)
        if rdd is not None:
            rdd.unpersist(False)


class _Rounds:
    """The one round loop of the iterative ops, as a context manager.
    ``pin(df)`` materializes an input every round reads and holds it
    until exit; ``next(df)`` materializes one round's state with
    ``localCheckpoint`` and frees the round before it; ``result(df)``
    marks ``df``, which reads the last state, as what the op returns.
    On exit everything else is freed, also when the op raises.  A
    round reading the previous state twice is never unrolled lazily:
    the plan tree grows reads^rounds.  Blocks are found by diffing the
    persistent-RDD registry around each checkpoint, so no other thread
    of the session may persist RDDs while a loop runs.  A returned
    state lives in executor storage with no lineage: once an executor
    holding its blocks is lost (or released by dynamic allocation), a
    later read fails with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``
    instead of recomputing."""

    def __init__(self, spark):
        self._spark = spark
        self._pins: set = set()
        self._state: set = set()

    def __enter__(self) -> "_Rounds":
        return self

    def _materialize(self, df: DataFrame) -> tuple[DataFrame, set]:
        before = _persistent_rdd_ids(self._spark)
        df = df.localCheckpoint()
        return df, _persistent_rdd_ids(self._spark) - before

    def pin(self, df: DataFrame) -> DataFrame:
        df, ids = self._materialize(df)
        self._pins |= ids
        return df

    def next(self, df: DataFrame) -> DataFrame:
        df, ids = self._materialize(df)
        _unpersist_rdd_ids(self._spark, self._state)
        self._state = ids
        return df

    def result(self, df: DataFrame) -> DataFrame:
        self._state = set()
        return df

    def __exit__(self, exc_type, exc, tb) -> None:
        _unpersist_rdd_ids(self._spark, self._pins | self._state)


# the largest edge set dedup_components labels on the driver: 1<<20
# edges of two int64 ids is 16 MB of Arrow, well inside a 1/8-RAM
# driver heap; above it the distributed round loop runs
_DRIVER_EDGES = 1 << 20


def dedup_components(
    pairs: DataFrame,
    stats: dict | None = None,
) -> DataFrame:
    """EXACT duplicate clusters from a candidate-pair edge set:
    connected components, labelled ``component = min doc_id in the
    cluster`` — the precise grouping that :func:`dedup_survivors`'
    one-pass smallest-NEIGHBOR dominance approximates (dominance can
    keep two docs of one chain A−B−C when B is the smallest;
    components never do).

    Two paths, chosen by the edge count alone.  One
    ``limit(_DRIVER_EDGES + 1).toArrow()`` reads the edges; at or
    below ``_DRIVER_EDGES`` (1<<20, 16 MB of int64 Arrow) union-find
    labels them on the driver, each set rooted at its smallest id,
    and the result is a local relation (one ``LocalTableScan``, no
    executor blocks, no Spark round) that reads after the input is
    unpersisted and survives the loss of any executor.  Above the
    budget :func:`_components_rounds`, the distributed min-label loop,
    runs on the whole edge set; it is the only path for a graph the
    driver cannot hold, and the two paths are each other's reference
    in the tests.

    Returns (doc_id, component) for every vertex that appears in
    ``pairs``, typed like ``doc_a`` (``doc_b`` shares its type);
    singleton docs never enter the edge set and are their own
    component by definition (callers union them back if needed).  An
    edge with a null endpoint adds its vertices (null among them) but
    joins nothing.  ``stats`` (optional dict) receives ``{"rounds":
    k}``: the loop's round count, 0 on the driver path, where no Spark
    round runs."""
    head = pairs.select("doc_a", "doc_b").limit(_DRIVER_EDGES + 1).toArrow()
    if head.num_rows > _DRIVER_EDGES:
        return _components_rounds(pairs, stats=stats)
    import pyarrow as pa

    parent: dict = {}

    def find(v):
        while parent[v] != v:
            parent[v] = v = parent[parent[v]]
        return v

    for a, b in zip(head["doc_a"].to_pylist(), head["doc_b"].to_pylist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    if stats is not None:
        stats["rounds"] = 0
    ids = list(parent)
    id_type = head.schema.field("doc_a").type
    return pairs.sparkSession.createDataFrame(
        pa.table({
            "doc_id": pa.array(ids, id_type),
            "component": pa.array([find(v) for v in ids], id_type),
        })
    )


def _components_rounds(
    pairs: DataFrame,
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """The distributed path of :func:`dedup_components`, for edge sets
    above ``_DRIVER_EDGES``: the same labelling, ``component = min
    doc_id in the cluster``, computed in Spark rounds.

    Algorithm: min-label propagation WITH POINTER JUMPING
    (Shiloach–Vishkin-style shortcutting; same O(log n)-round family
    as Kiveris et al.'s large-star/small-star contraction).  Every
    vertex starts labelled with itself; each round takes
    ``min(own label, neighbours' labels, label-of-own-label)``.  The
    third term is the jump: label pointers form a forest whose depth
    HALVES per round, so the reach of a label doubles per round and a
    diameter-d chain converges in O(log d) rounds where plain
    propagation needs d (r4's named scale-killer — a 10k-vertex path
    now finishes in 15 rounds, tested, vs ~10k before).  Labels are
    monotone non-increasing and always ids of same-component
    vertices, so the fixpoint (no label changed) is exactly the
    component-minimum labelling — unlike star contraction, the
    convergence test is a trivially-correct change count, and the
    edge set is pinned ONCE and never rewritten.

    Per round: one edge⋈label join + map-side-combinable min-agg
    (O(E)), one label self-join for the jump (O(V)), one scalar
    collect for convergence.  Rounds run through :class:`_Rounds`:
    each labelling is materialized and the one before it freed, and
    nothing but the returned labelling is left persisted, also when
    the call raises.  The returned labelling has no lineage (see
    :class:`_Rounds`).

    Raises after ``max_iter`` rounds rather than returning a
    half-propagated labelling (with doubling, 50 rounds covers any
    graph below ~2^49 vertices — unreachable in practice).
    Deterministic, Python-free plan per round.  ``stats`` (optional
    dict) receives ``{"rounds": k}`` for observability/tests."""
    edges = pairs.select("doc_a", "doc_b")

    def _step(lbl: DataFrame, with_jump: bool) -> DataFrame:
        """One min-label propagation step (neighbour min + pointer
        jump) as a lazy plan over the pinned ``sym`` and ``lbl``; emits
        (doc_id, component, _chg).  ``with_jump=False`` skips the
        label-of-label join — valid ONLY for the very first step, where
        every label is its own id and the jump is the identity (r8: one
        join+shuffle saved per call)."""
        neigh = (
            sym.join(lbl, sym["doc_b"] == lbl["doc_id"])
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("component").alias("n_comp"))
        )
        merged = lbl.join(neigh, "doc_id", "left")
        if with_jump:
            # pointer jump: the label of my label (components are
            # always vertex ids present in the labelling, so the
            # inner self-join is total; left+coalesce guards the
            # invariant anyway)
            jump = lbl.select(
                F.col("component").alias("_j_src"),
            ).distinct().join(
                lbl.select(
                    F.col("doc_id").alias("_j_src"),
                    F.col("component").alias("j_comp"),
                ),
                "_j_src",
                "left",
            )
            merged = merged.join(
                jump.select(
                    F.col("_j_src").alias("component"), "j_comp"
                ),
                "component",
                "left",
            )
        else:
            merged = merged.withColumn("j_comp", F.lit(None))
        return merged.select(
            "doc_id",
            F.least(
                F.col("component"),
                F.coalesce("n_comp", "component"),
                F.coalesce("j_comp", "component"),
            ).alias("new_component"),
            (
                F.least(
                    F.coalesce("n_comp", "component"),
                    F.coalesce("j_comp", "component"),
                )
                < F.col("component")
            ).cast("int").alias("_chg"),
        ).withColumnRenamed("new_component", "component")

    with _Rounds(pairs.sparkSession) as rounds:
        # pinned ONCE: the edge set may be an expensive candidate
        # pipeline (LSH generation) — without this every propagation
        # round re-runs it (code-review r4b)
        sym = rounds.pin(
            edges.unionByName(
                edges.select(
                    F.col("doc_b").alias("doc_a"),
                    F.col("doc_a").alias("doc_b"),
                )
            )
        )
        labels = rounds.next(
            sym.select(F.col("doc_a").alias("doc_id"))
            .distinct()
            .withColumn("component", F.col("doc_id"))
        )
        for rnd in range(max_iter):
            # ONE step per materialized round.  (r8 measured dead end,
            # recorded: fusing two steps per round halves the
            # checkpoint+collect overhead but step 2 references step
            # 1's UNmaterialized plan four times — neighbour join, the
            # two jump sides, and the merge base — so step 1's joins
            # re-run 4× and probes read 2-3× slower.  The cheap win
            # that survives is skipping the round-0 jump, where labels
            # are all self.)
            merged = rounds.next(_step(labels, with_jump=(rnd > 0)))
            changed = merged.agg(F.sum("_chg")).collect()[0][0] or 0
            labels = merged.drop("_chg")
            if changed == 0:
                if stats is not None:
                    stats["rounds"] = rnd + 1
                return rounds.result(labels)
        raise RuntimeError(
            f"dedup_components did not converge in {max_iter} rounds — "
            "with pointer jumping this needs a graph of ~2^{max_iter} "
            "vertices; check the candidate edge set for corruption"
        )


def kmv_distinct_estimate(
    docs: DataFrame,
    col: str = "text",
    k: int = 64,
) -> DataFrame:
    """K-minimum-values distinct-count sketch — DETERMINISTIC, so it
    oracle-checks exactly (unlike HLL/approx_count_distinct whose
    binary sketches differ across engines).

    Theory (Bar-Yossef et al. 2002): hash values to uniform 48-bit
    ints; if h_k is the k-th smallest distinct hash, (k−1)·2^48/h_k
    estimates the distinct count.  Distributed shape: map-side hash →
    one top-k aggregation (sort-limit on the hash, combinable);
    mergeable across partitions/days by keeping each shard's k minima
    — the standard sketch-union property, here with zero randomness.

    Returns one row: (n_estimate,) — pure plan, no driver action.
    """
    hashed = docs.select(md5_hash48(F.col(col)).alias("h")).distinct()
    kth = (
        hashed.orderBy(F.col("h").asc())
        .limit(k)
        .agg(F.max("h").alias("h_k"), F.count("*").alias("n_kept"))
    )
    # floor→BIGINT, not round: Spark rounds half-up and DuckDB
    # half-even (CLAUDE.md gotcha) — floor is identical on both
    return kth.select(
        F.floor(
            F.when(F.col("n_kept") < k, F.col("n_kept").cast("double"))
            .otherwise(
                (F.lit(float(k - 1)) * F.lit(float(1 << 48))) / F.col("h_k")
            )
        )
        .cast("long")
        .alias("n_estimate")
    )


def _bloom_positions(col: Column, m_bits: int, k: int) -> Column:
    """Array of ``k`` salted bit positions in [0, m_bits) for a value
    (the blessed cross-engine md5-48 hash per salt — deterministic,
    oracle-mirrorable)."""
    return F.array(
        *[
            md5_hash48(col, salt=f"bloom{i}:") % m_bits
            for i in range(k)
        ]
    )


def bloom_build(
    df: DataFrame,
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Bloom-filter seen-set as a SPARSE BITMAP WORD TABLE — the
    crawl-frontier membership sketch for 10^12-URL scale, where the
    seen-set itself is too big to broadcast but its bit array is not.

    Each value sets ``k`` salted md5-48 bit positions in an
    ``m_bits``-wide filter; positions pack 63 per BIGINT word
    (63, not 64: ``1 << 62`` is the largest shift that stays positive
    in a signed BIGINT on BOTH engines — DuckDB errors on signed
    overflow where Java wraps).  Output rows (word_idx, word) exist
    only for words with at least one set bit, so an m=2^33 filter
    over a sparse frontier stays proportional to what was inserted.

    Fully mergeable: union two filters by grouping on word_idx and
    OR-ing words (the standard Bloom union) — cross-snapshot
    incremental crawls re-aggregate yesterday's table with today's
    inserts.  One explode + one map-side-combinable BIT_OR
    aggregation; deterministic, no Python.

    Sizing note (plan evidence, not enforcement): false-positive rate
    ≈ (1 − e^(−k·n/m))^k; at the k=4 default, m/n = 16 bits per key
    gives ~0.24%.  Callers pick m for their n; the gate reports
    probabilistic membership and a frontier treats a false positive
    as an already-crawled URL (skipped work, never corruption).
    """
    if not 0 < m_bits <= 1 << 48:
        raise ValueError("m_bits must be in (0, 2^48] (md5-48 positions)")
    if k < 1:
        raise ValueError("k must be >= 1")
    pos = df.select(
        F.explode(_bloom_positions(F.col("url"), m_bits, k)).alias("pos")
    )
    return (
        pos.select(
            F.expr("pos DIV 63").alias("word_idx"),
            F.expr("shiftleft(1L, CAST(pmod(pos, 63) AS INT))").alias(
                "bit"
            ),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(bit)").alias("word"))
    )


def bloom_gate(
    df: DataFrame,
    bloom: DataFrame,
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Membership test against a :func:`bloom_build` word table:
    one (distinct ``url``, ``maybe_seen``) row per candidate value —
    True = all k bits set (present OR false positive), False =
    definitely never inserted.

    Distributed shape: explode each candidate's k positions, ONE join
    against the word table on word_idx (broadcast it upstream when
    the filter is small — a 2^30-bit filter is 128 MB of words worst
    case, usually far less sparse), then an all-bits-hit aggregation
    per candidate.  The verdict is ``min(hit) == 1`` — NOT a hit
    count compared to k — so duplicate input rows (the same URL
    discovered from many pages, a crawl frontier's normal state)
    cannot produce a false negative (code-review r4: ``sum == k``
    broke the no-false-negative guarantee on duplicates).  No
    Python, no driver state."""
    pos = df.select(
        F.col("url"),
        F.explode(_bloom_positions(F.col("url"), m_bits, k)).alias("pos"),
    ).select(
        "url",
        F.expr("pos DIV 63").alias("word_idx"),
        F.expr("shiftleft(1L, CAST(pmod(pos, 63) AS INT))").alias("bit"),
    )
    joined = pos.join(bloom, "word_idx", "left")
    hit = (
        F.col("word").isNotNull()
        & (F.expr("word & bit") != 0)
    ).cast("int")
    return (
        joined.groupBy("url")
        .agg(F.min(hit).alias("_all_hit"))
        .select("url", (F.col("_all_hit") == 1).alias("maybe_seen"))
    )


# ---------------------------------------------------------- URL ops
def url_normalize(col: Column) -> Column:
    """Canonical URL form for URL-level dedup (training pipelines
    dedupe by page identity before content dedup): strip fragment,
    lowercase scheme+authority, drop default ports (http:80 /
    https:443), sort query parameters.  Pure JVM string/array
    functions — identical regex semantics exist in DuckDB, so the op
    is oracle-checkable."""
    u = F.regexp_replace(col, "#.*", "")  # fragment never reaches origin
    base = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?]*", 0)
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?]*", "")
    lb = F.lower(base)
    lb = F.regexp_replace(lb, r"^(http://[^/?]*):80$", "$1")
    lb = F.regexp_replace(lb, r"^(https://[^/?]*):443$", "$1")
    path = F.regexp_extract(rest, r"^[^?]*", 0)
    query = F.regexp_extract(rest, r"\?(.*)$", 1)
    sorted_q = F.array_join(F.array_sort(F.split(query, "&")), "&")
    return F.when(
        query == "", F.concat(lb, path)
    ).otherwise(F.concat(lb, path, F.lit("?"), sorted_q))


def url_host(col: Column) -> Column:
    """Lowercased host (no port) — the partition/grouping key for
    per-site stats and politeness budgeting."""
    return F.lower(
        F.regexp_extract(col, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/:?#]*)", 1)
    )


def anchor_text_stats(
    links: DataFrame,
) -> DataFrame:
    """Incoming anchor-text aggregation per link target — the classic
    web-corpus relevance signal (anchor text describes the TARGET
    page better than the source; search and labeling pipelines
    aggregate it per URL).

    Returns one row per target: ``n_links`` (total incoming),
    ``n_sources`` (distinct linking docs), ``top_anchor`` +
    ``top_anchor_count`` (the most common anchor text; ties break
    lexicographically so reruns and the oracle agree).

    Shape: two hash-aggs on the target key + one rank window over the
    (target, anchor) GROUPS (bounded by distinct anchor texts, not
    link volume) + a broadcast-friendly join back.  All counts
    integer, fully deterministic.  NULL targets (an unresolvable
    href) are dropped EXPLICITLY up front — the join-back would lose
    them silently otherwise — and the anchor tie-break pins NULLS
    LAST, where Spark and DuckDB default opposite ways (code-review
    r4d)."""
    links = links.where(F.col("resolved").isNotNull())
    per_anchor = links.groupBy("resolved", "anchor_text").agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("resolved").orderBy(
        F.col("n").desc(), F.col("anchor_text").asc_nulls_last()
    )
    top = (
        per_anchor.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "resolved",
            F.col("anchor_text").alias("top_anchor"),
            F.col("n").alias("top_anchor_count"),
        )
    )
    totals = links.groupBy("resolved").agg(
        F.count("*").alias("n_links"),
        F.count_distinct("doc_id").alias("n_sources"),
    )
    return totals.join(top, "resolved")


def host_stats(
    docs: DataFrame,
) -> DataFrame:
    """Per-host crawl-quality report — the standard corpus triage
    view: page count, distinct normalized URLs (URL-dedup ratio per
    site), and mean text length.  One hash-agg shuffle on the host
    key; at corpus scale hosts are the natural politeness/quality
    partition so this agg is the fan-in everything else reads."""
    return (
        docs.select(
            url_host(F.col("url")).alias("host"),
            url_normalize(F.col("url")).alias("norm_url"),
            F.length("text").alias("n_chars"),
        )
        .groupBy("host")
        .agg(
            F.count("*").alias("n_pages"),
            F.countDistinct("norm_url").alias("n_distinct_urls"),
            F.floor(F.avg("n_chars")).cast("bigint").alias(
                "mean_chars"
            ),
        )
    )


def spans_to_markdown(
    spans: DataFrame,
) -> DataFrame:
    """Render an extracted span table (doc_id, offset, kind, text,
    media_ref) to one markdown document per doc — the common final
    form for web-derived training corpora.  heading → ``# ``, list →
    ``- ``, code → fenced block, table → ``| … |`` row, media →
    ``![text](ref)``, link → ``[text](ref)``, meta → dropped (page
    metadata is not content), text → plain paragraph; blocks joined
    with blank lines in offset order.

    Pure JVM: one projection + one groupBy-doc rebuild (same shape as
    :func:`line_dedup`'s).  Dropped (meta/null) spans shuffle as
    (offset, NULL) stubs — their text never moves — so every doc
    keeps a row even when nothing renders."""
    md = (
        F.when(
            F.col("kind") == "heading",
            F.concat(F.lit("# "), F.col("text")),
        )
        .when(
            F.col("kind") == "list",
            F.concat(F.lit("- "), F.col("text")),
        )
        .when(
            F.col("kind") == "code",
            F.concat(F.lit("```\n"), F.col("text"), F.lit("\n```")),
        )
        .when(
            F.col("kind") == "table",
            F.concat(F.lit("| "), F.col("text"), F.lit(" |")),
        )
        .when(
            F.col("kind") == "media",
            F.concat(
                F.lit("!["), F.col("text"), F.lit("]("),
                F.coalesce(F.col("media_ref"), F.lit("")), F.lit(")"),
            ),
        )
        .when(
            F.col("kind") == "link",
            F.concat(
                F.lit("["), F.col("text"), F.lit("]("),
                F.coalesce(F.col("media_ref"), F.lit("")), F.lit(")"),
            ),
        )
        .when(F.col("kind") == "meta", F.lit(None).cast("string"))
        .otherwise(F.col("text"))
    )
    # keep null-rendered rows through the groupBy and filter INSIDE
    # the aggregate, so all-meta pages (redirect stubs, paywall
    # shells) still yield a row with empty markdown — same empty-doc
    # guarantee as line_dedup (code-review r3d)
    rendered = spans.select("doc_id", "offset", md.alias("md"))
    return rendered.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("offset", "md"))
                    ),
                    lambda s: s["md"].isNotNull(),
                ),
                lambda s: s["md"],
            ),
            "\n\n",
        ).alias("markdown")
    )


def spans_to_text(
    spans: DataFrame,
) -> DataFrame:
    """Render an extracted span table to one PLAIN-TEXT document per
    doc — the WET form (Common Crawl's extracted-text records), the
    input shape most text-pipeline tooling expects.  Visible-text
    kinds pass through verbatim in offset order joined by newlines
    (text, heading, list, code, table); everything else drops —
    meta, media (alt text is an attribute, not rendered text), the
    structured-data / redirect kinds, and crucially ``link``: anchor
    text ALREADY flows into its enclosing text span (the link span
    is metadata on top — extract.py's emit_links contract), so
    rendering link spans too would duplicate every anchor token in
    the WET output (code-review r5).  Same plan shape and empty-doc
    guarantee as :func:`spans_to_markdown`: one projection + one
    groupBy-doc rebuild, dropped rows shuffle as NULL stubs."""
    txt = F.when(
        F.col("kind").isin(
            "text", "heading", "list", "code", "table"
        ),
        F.col("text"),
    ).otherwise(F.lit(None).cast("string"))
    rendered = spans.select("doc_id", "offset", txt.alias("t"))
    return rendered.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("offset", "t"))
                    ),
                    lambda s: s["t"].isNotNull(),
                ),
                lambda s: s["t"],
            ),
            "\n",
        ).alias("text")
    )


def line_dedup(
    docs: DataFrame,
) -> DataFrame:
    """Corpus-level line deduplication (the C4 pipeline's famous
    pass: any line occurring twice or more across the corpus —
    cookie banners, nav text, boilerplate — is removed from EVERY
    document).  Returns (doc_id, text) with surviving lines rejoined
    in original order; documents losing all lines keep an empty
    string.

    Plan: posexplode lines → FULL-md5 line key (48 bits would
    birthday-collide at C4 scale and delete innocent lines —
    code-review r3c) → global count (map-side combinable hash-agg) →
    flag-join back → ONE groupBy-doc rebuild that filters flagged
    lines inside the aggregate.  Two shuffles total; every document
    keeps at least its (possibly empty) first line row, so docs that
    lose everything still come back with empty text — no extra
    docs-side scan."""
    import re as _re

    lines = docs.select(
        "doc_id",
        F.posexplode(
            F.split(F.col("text"), _re.escape("\n"))
        ).alias("pos", "line"),
    )
    keyed = lines.withColumn(
        "lk",
        F.when(
            F.trim(F.col("line")) != "",
            F.md5(F.trim(F.col("line"))),
        ),
    )
    dup_keys = (
        keyed.where(F.col("lk").isNotNull())
        .groupBy("lk")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= 2)
        .select("lk", F.lit(True).alias("_dup"))
    )
    flagged = keyed.join(dup_keys, "lk", "left")
    return flagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(
                            F.struct("pos", "line", "_dup")
                        )
                    ),
                    lambda s: s["_dup"].isNull(),
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text")
    )


def dedup_by_canonical(
    docs: DataFrame,
) -> DataFrame:
    """Canonical-URL dedup tier: a page declaring ``rel=canonical``
    (harvested by ``ExtractConfig.emit_head_meta``) dedupes under the
    canonical TARGET, else under its own URL — collapsing
    parameterized/syndicated copies the plain URL tier cannot see.
    Relative canonical hrefs (extremely common) are resolved against
    the page URL first — otherwise '/index' pages on DIFFERENT hosts
    would collapse into one group (code-review r3b) — and a canonical
    that still fails to resolve to an absolute URL (``?page=2`` /
    ``#top`` pagination canonicals, resolver passthrough) falls back
    to the page's own URL rather than becoming a cross-host group key
    (code-review r3c); a null canonical groups by the page's own URL.
    One hash-agg shuffle."""
    resolved = absolutize_url(F.col("url"), F.col("canonical"))
    eff = F.when(
        F.col("canonical").isNotNull()
        & (F.col("canonical") != "")
        & resolved.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*://"),
        resolved,
    ).otherwise(F.col("url"))
    return (
        docs.withColumn("norm_url", url_normalize(eff))
        .groupBy("norm_url")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "norm_url")
    )


def hreflang_clusters(
    pages: DataFrame,
    alternates: DataFrame,
) -> DataFrame:
    """Group pages that declare each other as language alternates
    (``rel=alternate hreflang`` — harvested by ``emit_head_meta`` as
    ``alternate:<lang>`` spans) into language clusters: per page, the
    cluster id is the smallest URL among {self} ∪ declared
    alternates, with the distinct member count.  Training pipelines
    use the cluster as the LOGICAL document for language-balanced
    sampling or keep-one-per-cluster dedup — the variants are
    translations, not duplicates, and plain content dedup never
    catches them.

    One hop by spec design: hreflang annotations are required to be
    reciprocal, so a well-formed site's cluster is fully named on
    every member page; asymmetric (broken) annotations would need a
    connected-components pass — feed these edges to
    :func:`dedup_components` if that recovery matters.  Plan: one
    union + one hash-agg on the page URL, combinable."""
    members = alternates.select(
        "url", F.col("alt").alias("_m")
    ).unionByName(
        pages.select("url", F.col("url").alias("_m"))
    )
    return members.groupBy("url").agg(
        F.min("_m").alias("cluster_id"),
        F.count_distinct("_m").alias("n_members"),
    )


def link_header_canonical(link_header: Column) -> Column:
    """Canonical URL from an RFC 8288 HTTP ``Link`` header value
    (``sources.parse_warc_records.http_link``), or ``""`` when none.

    The header is a comma-separated list of ``<uri>; param=value``
    entries; the canonical entry is the one whose parameters include
    ``rel=canonical`` (``rel`` values are case-insensitive and may be
    a quoted space-separated token list — ``rel="canonical
    alternate"`` still counts, ``rel=noncanonical`` must not).  Two
    anchored alternatives (quoted token-list, bare token) instead of
    one mega-pattern keep the regex RE2-compatible so the DuckDB
    oracle runs the identical patterns.  Documented approximation
    shared with every pragmatic crawler: a literal comma inside a
    quoted param value would split an entry early — vanishingly rare
    in canonical links, and the failure mode is a missed (not wrong)
    canonical.

    HTTP-header canonicals take PRECEDENCE over the in-document
    ``<link rel=canonical>`` (Google's documented order) — compose
    via ``coalesce(nullif(link_header_canonical(h), ''), html_canon)``
    before :func:`dedup_by_canonical`."""
    quoted = F.regexp_extract(
        link_header,
        r'(?i)<([^>]+)>[^,]*;[^,]*rel\s*=\s*"(?:[^"]*\s)?canonical(?:\s[^"]*)?"',
        1,
    )
    bare = F.regexp_extract(
        link_header,
        # token must END at a delimiter or end-of-header (no RE2
        # lookahead: a trailing [;,\s] alternative with $ instead),
        # so rel=canonicalish never matches
        r"(?i)<([^>]+)>[^,]*;[^,]*rel\s*=\s*canonical\s*([;,]|$)",
        1,
    )
    return F.when(quoted != "", quoted).otherwise(bare)


def sitemap_entries(
    sitemaps: DataFrame,
) -> DataFrame:
    """Full sitemap entries — ``<loc>`` plus the scheduling metadata
    real recrawl planners consume: ``lastmod`` (drives conditional
    refetch), ``changefreq``, ``priority``.  One
    ``regexp_extract_all`` over whole ``<url>``/``<sitemap>`` blocks
    + explode, then per-block field extracts — the per-block scope is
    what keeps a lastmod from attaching to its NEIGHBOR's loc, which
    a flat per-document extract of parallel field lists silently gets
    wrong when optional fields are present on only some entries.
    Missing optional fields are NULL (``nullif``), ``priority`` is a
    DOUBLE via ``try_cast`` (garbage → NULL, never a job kill).
    Projection + explode, no shuffle; ``is_index`` marks sitemapindex
    blocks (their locs are sitemap URLs to fetch, not page URLs)."""
    blocks = F.expr(
        "regexp_extract_all(text, "
        "'(?s)<(?:url|sitemap)>(.*?)</(?:url|sitemap)>', 1)"
    )

    def field(name: str) -> Column:
        return F.nullif(
            F.regexp_extract(
                F.col("block"),
                rf"(?s)<{name}>\s*(.*?)\s*</{name}>",
                1,
            ),
            F.lit(""),
        )

    return (
        sitemaps.select(
            "host",
            F.col("text").contains("<sitemapindex").alias("is_index"),
            F.explode(blocks).alias("block"),
        )
        .select(
            "host",
            "is_index",
            F.regexp_replace(field("loc"), "&amp;", "&").alias("url"),
            field("lastmod").alias("lastmod"),
            field("changefreq").alias("changefreq"),
            field("priority").try_cast("double").alias("priority"),
        )
        .where(F.col("url").isNotNull())
    )


# ------------------------------------------------------ text analysis
def text_quality(docs: DataFrame) -> DataFrame:
    """Quality features: token/char counts, avg word length, stopword
    ratio, unique-token ratio — one narrow projection, no shuffle."""
    toks = _words()
    en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.round(
            F.length(F.regexp_replace("text", " ", "")) / F.size(toks), 4
        ).alias("avg_word_len"),
        F.round(
            F.size(F.filter(toks, lambda t: F.array_contains(en, t)))
            / F.size(toks),
            4,
        ).alias("stopword_ratio"),
        F.round(F.size(F.array_distinct(toks)) / F.size(toks), 4).alias(
            "uniq_ratio"
        ),
    )


def quality_filter(
    docs: DataFrame,
    min_tokens: int = 8,
    max_tokens: int = 100_000,
    max_avg_word_len: float = 12.0,
    min_uniq_ratio: float = 0.2,
) -> DataFrame:
    """Composed Gopher/C4-style quality gate: keep documents passing
    ALL heuristic thresholds (token-count window, mean word length,
    a non-null stopword ratio, repetition ceiling via unique-token
    ratio) —
    published filter families (Gopher, Rae et al. 2021 §A1.1; C4,
    Raffel et al. 2020 §2.2), composed over ``text_quality``'s
    features.  One narrow projection + filter, no shuffle; at corpus
    scale this is the first content gate after URL/exact dedup."""
    q = text_quality(docs)
    keep = q.where(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens)
        & (F.col("avg_word_len") <= max_avg_word_len)
        & (F.col("stopword_ratio") >= 0.0)
        & (F.col("uniq_ratio") >= min_uniq_ratio)
    ).select("doc_id")
    return docs.join(keep, "doc_id").select("doc_id", "text")


def _langid_buckets(grams: Column, hash_fn: str) -> Column:
    """Trigram array → bucket-id array under the chosen hash engine
    (the winnow-style split, VERDICT r6 #4): ``md5`` = md5-48 %
    N_BUCKETS (the blessed cross-engine hash — every oracle pins it);
    ``xxhash64`` = pmod(xxhash64, N_BUCKETS) (JVM-native, ~2× cheaper
    per trigram — the 100-TB engine default).  Each engine scores
    against ITS OWN weight table (langid_model trains both with a
    bit-exact Python XXH64 mirror)."""
    from .langid_model import N_BUCKETS

    if hash_fn == "md5":
        return F.transform(
            grams, lambda g: F.pmod(md5_hash48(g), F.lit(N_BUCKETS))
        )
    if hash_fn == "xxhash64":
        return F.transform(
            grams, lambda g: F.pmod(F.xxhash64(g), F.lit(N_BUCKETS))
        )
    raise ValueError(
        f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}"
    )


def _langid_argmax(scores: dict[str, Column]) -> Column:
    """Deterministic argmax (alphabetical tie-break) as ONE
    ``array_max`` over ``(score, -rank)`` structs.  NOT the nested
    when-chain: ``best = when(s > best_prev, s).otherwise(best_prev)``
    embeds ``best_prev`` TWICE per level, so the expression tree —
    and, because higher-order-function subtrees are excluded from
    common-subexpression elimination, the per-row fold WORK — grows
    2^k in the language count.  Fine at the r6 model's k=3; at the
    r7 model's k=10 analysis alone took minutes.  Struct comparison
    is lexicographic, so max picks the highest score, then the
    highest ``-rank`` = alphabetically FIRST language — the same
    (score DESC, lang ASC) order every oracle pins.  Each score
    expression appears exactly once."""
    langs = sorted(scores)
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    scores[lg].alias("s"),
                    F.lit(-i).alias("nr"),
                )
                for i, lg in enumerate(langs)
            ]
        )
    )
    return F.element_at(
        F.lit(langs), (-best["nr"] + 1).cast("int")
    )


def _langid_score_vector(
    bucket_col: Column, hash_fn: str
) -> tuple[list[str], Column]:
    """SINGLE-PASS per-language score vector: one ``aggregate`` over
    the bucket array with a k-slot accumulator, where each trigram
    does ONE ``element_at`` into a TRANSPOSED constant-folded
    ``array<array<bigint>>`` literal (``W2[bucket][i]`` = weight of
    the i-th sorted language) and a ``zip_with`` add.  Replaces k
    separate folds — the bucket array was walked k times with k
    lookups per element; at the r7 model's k=10 the isolated fold
    A/B reads 1.3–1.5× (NOTES r7-k), sums bit-identical (integer
    adds commute).  The transposed literal is ONE constant-foldable
    ``from_json('[[…], …]')``, NOT ``F.array(*4096 lits)`` and NOT
    ``F.lit(list)`` (which pyspark desugars to the same CreateArray):
    thousands of child expressions walk through analysis /
    canonicalization / codegen — ~41k nodes at 10 languages cost
    ~20 s of DRIVER time per query and OOMed the driver generating
    an explain string (NOTES r7-b).  A from_json literal is 2 leaf
    nodes that Catalyst's ConstantFolding evaluates ONCE at
    optimization into a true array Literal.  Returns (sorted langs,
    vector Column); CALLERS must land the vector in a guarded
    materialized column before referencing it more than once (the
    pushdown re-inlining trap — see lang_gate's ``_sc``)."""
    import json as _json

    from .langid_model import N_BUCKETS, trigram_weights

    wt = trigram_weights(hash_fn=hash_fn)
    langs = sorted(wt)
    w2 = [
        [int(wt[lg][i]) for lg in langs] for i in range(N_BUCKETS)
    ]
    w2col = F.from_json(
        F.lit(_json.dumps(w2)), "array<array<bigint>>"
    )
    vec = F.aggregate(
        bucket_col,
        F.array_repeat(F.lit(0).cast("long"), len(langs)),
        lambda acc, b: F.zip_with(
            acc,
            F.element_at(w2col, (b + 1).cast("int")),
            lambda x, y: x + y,
        ),
    )
    return langs, vec


def lang_id_v2(
    docs: DataFrame,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Hashed char-trigram Naive-Bayes language id (VERDICT r5 #7;
    ten seed languages incl. Cyrillic + CJK since r7):
    score(doc, ℓ) = Σ over char trigrams of the pre-baked integer
    log-weight ``W[ℓ][hash(gram) % 4096]``
    (:mod:`zhtml_spark.langid_model`), argmax with alphabetical
    tie-break, ``und`` for docs shorter than one trigram.

    ``hash_fn``: engine default ``xxhash64`` (JVM-native, the
    winnow-style split per VERDICT r6 #4); oracles pin ``md5``.

    Plan shape: the linear ``_char_gram_expr`` gram array (never the
    quadratic positioned-substring form), ONE hash per trigram into a
    multi-referenced bucket-array alias (CollapseProject-safe), then
    ONE single-pass ``aggregate`` fold producing the whole k-language
    score vector (``_langid_score_vector`` — one transposed-table
    lookup per trigram instead of k separate folds, r7-k).  Zero
    shuffles, zero Python, weights ride the plan as constants —
    embarrassingly parallel at any corpus size.  All-integer scores
    keep the DuckDB oracle exact (the SQL side indexes the SAME
    weight table, generated from the same Python model; fold order
    doesn't matter — integer adds commute)."""
    # lower() FIRST, into a real (multi-referenced) column: passing
    # "lower(text)" as the gram source inlines an O(n) expression
    # into the per-position lambda of _char_gram_expr's short-doc
    # branch — the r5-a quadratic trap, re-found at 2M docs when the
    # lang gate stragglers ran 30+ min (r6).  _char_gram_expr
    # references its source many times, so the alias never collapses.
    low = fan_out(docs).select(
        "doc_id", F.lower(F.col("text")).alias("_lt")
    )
    grams = F.expr(_char_gram_expr("_lt", 3, None))
    bucketed = low.select(
        "doc_id",
        _langid_buckets(grams, hash_fn).alias("_b"),
    )
    langs_sorted, vec = _langid_score_vector(F.col("_b"), hash_fn)
    # land the vector in a guarded materialized column: the argmax
    # references it k times, and only a nondeterministic guard pins
    # it against re-inlining (the lang_gate `_sc` pattern)
    scored = bucketed.withColumn(
        "_sc", F.when(F.monotonically_increasing_id() >= 0, vec)
    )
    scores = {
        lg: F.element_at("_sc", i + 1)
        for i, lg in enumerate(langs_sorted)
    }
    pred = _langid_argmax(scores)
    pred = F.when(F.size("_b") == 0, F.lit("und")).otherwise(pred)
    return scored.select("doc_id", pred.alias("predicted_lang"))


def lang_gate(
    docs: DataFrame,
    min_lm_score: int | dict[str, int] = -8_000_000,
    max_chars: int | None = 2000,
    langs: tuple[str, ...] | None = None,
    hash_fn: str = "xxhash64",
    with_lang: bool = False,
) -> DataFrame:
    """ONE-pass language gate: :func:`lang_id_v2`'s argmax AND
    :func:`trigram_lm_score`'s LM mean from a SINGLE hashed-bucket
    array — one hash per trigram serves both signals, where running
    the two ops separately pays the trigram hashing twice (measured
    at 2M docs: the split form was the job's slowest stage).

    ``hash_fn``: engine default ``xxhash64`` (VERDICT r6 #4 — md5 was
    31% of the 2M-doc pipeline; JVM-native XXH64 halves the gate's
    hash cost); oracles pin ``md5``.  Each engine uses its own weight
    table; an md5-vs-xxhash64 prediction-equality pytest pins the
    split on the seed + held-out corpora.

    ``max_chars`` caps scoring to the document HEAD (default 2000
    chars): language identity is a head property — fastText/CLD2
    pipelines sample exactly this way — and it bounds per-doc cost
    independent of page size, so a giant page can never straggle the
    gate.  ``None`` scores the full text (the oracle-gated
    :func:`lang_id_v2`/:func:`trigram_lm_score` semantics).

    Keeps documents predicted English (or any of ``langs`` when
    given — multilingual pipelines gate to their whole target set)
    whose mean per-trigram log-prob UNDER THE PREDICTED LANGUAGE
    clears ``min_lm_score`` (1e-6-scaled integer, or a
    ``{lang: floor}`` dict — REQUIRED to cover every accepted
    language); docs below one trigram drop (no evidence fails a gate
    whose job is keeping evidenced text).  Floor calibration against
    the 4096-bucket model (measured r6, re-measured r7 over 10
    languages): natural held-out text scores ≈ -7.46e6..-7.82e6
    under its own ALPHABETIC language, keyboard mash ≤ -8.29e6 under
    its best-fit language — the -8.0e6 default splits those with
    margin.  CJK bands sit LOWER (ja ≈ -7.96e6, zh ≈ -8.04e6: small
    seed mass puts more trigrams on the smoothing floor), so
    multilingual gates covering ja/zh should pass per-language
    floors, e.g. ``{"ja": -8_200_000, "zh": -8_200_000, ...}``.
    Synthetic word-salad corpora (markov keyword text) score in the
    mash band; gate those with an explicit permissive floor.
    Returns the input rows minus ``_b`` plumbing — zero shuffles,
    embarrassingly parallel."""
    from .langid_model import trigram_weights

    weights = trigram_weights(hash_fn=hash_fn)
    # lower (and the head cap) land in a real multi-referenced column
    # FIRST — an O(n) expression passed as the gram source would
    # re-evaluate per position in the short-doc branch (the r5-a
    # quadratic; see lang_id_v2)
    src = F.lower(F.col("text"))
    if max_chars is not None:
        # substring from pos 1 is O(max_chars), never O(doc) — the
        # giant-page guard
        src = F.substring(src, 1, max_chars)
    bucketed = fan_out(docs).withColumn("_lt", src)
    grams = F.expr(_char_gram_expr("_lt", 3, None))
    # ``_b`` carries a value-neutral NONDETERMINISTIC guard
    # (``when(monotonically_increasing_id() >= 0, ...)`` is always
    # taken), and that guard is load-bearing (r6, measured 6×): the
    # gate ends in a Filter whose condition references ``_b`` six
    # times (argmax chain + LM floor + size); predicate pushdown
    # substitutes a DETERMINISTIC alias definition once PER REFERENCE
    # when pushing through a Project, and higher-order-function
    # subtrees are excluded from codegen subexpression elimination
    # (LambdaVariable), so the hash-per-trigram chain ran SIX times
    # per row (44.6 s vs 7.4 s single-evaluation at 20k docs; a
    # nondeterministic SIBLING column does NOT block the push — only
    # marking the referenced column itself works, verified on the
    # physical plan: the trigram hash appears once).  Gate VALUES
    # stay fully deterministic.
    bucketed = bucketed.withColumn(
        "_b",
        F.when(
            F.monotonically_increasing_id() >= 0,
            _langid_buckets(grams, hash_fn),
        ),
    )
    # Materialize the per-language scores ONCE as a guarded score
    # VECTOR (r7, measured 1.9×: 6.7-7.2 s → 3.5 s warm at 60k docs,
    # 10 accepted languages — the other half of the gate is the
    # trigram hashing itself).  The gate's Filter references the
    # predicted language once per accepted language (the floor chain)
    # plus the isin — and each `pred` copy embeds ALL k fold
    # expressions, which higher-order-function subexpression
    # exclusion then re-evaluates per copy: k folds × ~(k+1) copies =
    # O(k²) array walks per row at k=10.  With the folds landed in
    # `_sc`, every downstream reference is an element_at on a
    # materialized array — exactly k walks.  The nondeterministic
    # guard is the same load-bearing trick as `_b`'s: it pins the
    # vector against predicate-pushdown re-inlining.  Since r7-k the
    # vector itself is ONE single-pass transposed-table fold
    # (_langid_score_vector) instead of k separate folds — one
    # bucket-array walk total.
    langs_sorted, _vec = _langid_score_vector(F.col("_b"), hash_fn)
    bucketed = bucketed.withColumn(
        "_sc",
        F.when(F.monotonically_increasing_id() >= 0, _vec),
    )
    scores = {
        lg: F.element_at("_sc", i + 1)
        for i, lg in enumerate(langs_sorted)
    }
    pred = _langid_argmax(scores)
    n = F.size("_b")
    accept = langs if langs is not None else ("en",)
    for lg in accept:
        if lg not in weights:
            raise ValueError(f"no trigram model for {lg!r}")
        if isinstance(min_lm_score, dict) and lg not in min_lm_score:
            raise ValueError(
                f"min_lm_score dict is missing a floor for {lg!r} — "
                "per-language floors must cover every accepted "
                "language (CJK bands sit below the alphabetic ones)"
            )
    # LM floor under the doc's own PREDICTED language: the quality
    # question is "is this natural text in the language it claims",
    # not "is it English-like"
    lm_ok = F.lit(False)
    for lg in accept:
        floor = (
            min_lm_score[lg]
            if isinstance(min_lm_score, dict)
            else min_lm_score
        )
        lm_ok = F.when(
            pred == lg,
            scores[lg] > F.lit(floor).cast("long") * n,
        ).otherwise(lm_ok)
    keep = (n > 0) & pred.isin(*accept) & lm_ok
    out = bucketed.where(keep)
    if with_lang:
        # the prediction is already computed — exposing it is free
        # and lets downstream stages (rebalance_sample) group on it
        out = out.withColumn("pred_lang", pred)
    return out.drop("_b", "_sc", "_lt")


def trigram_lm_score(
    docs: DataFrame,
    lang: str = "en",
    hash_fn: str = "xxhash64",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """CCNet-style language-model quality score (Wenzek et al. 2020
    §4.3 filter perplexity with a small LM; here the repo's hashed
    trigram model): mean per-trigram integer log-probability of the
    doc under ``lang``'s :mod:`zhtml_spark.langid_model` weights,
    scaled 1e-6 — higher (less negative) = more natural text for the
    language, the standard light-LM quality gate between heuristic
    filtering and dedup.

    ``hash_fn``: engine default ``xxhash64``; oracles pin ``md5``
    (VERDICT r6 #4 — see :func:`lang_gate`).

    ``lm_score`` is the micro-mean quantized with integer ``div``
    (exact both engines): ``sum(weights) div n_trigrams``; docs
    shorter than one trigram score NULL (no evidence ≠ bad text).
    Same zero-shuffle fold shape as :func:`lang_id_v2` — one hash per
    trigram, weights as plan literals, embarrassingly parallel.
    ``keep_cols`` passes named input columns through unchanged (so a
    grouping key — e.g. the corpus language for
    :func:`score_tiers` — rides along without a corpus self-join)."""
    from .langid_model import trigram_weights

    weights = trigram_weights(hash_fn=hash_fn)
    if lang not in weights:
        raise ValueError(
            f"no trigram model for {lang!r}; have {sorted(weights)}"
        )
    arr = F.lit(list(weights[lang]))
    # lower() into a multi-referenced column first (the r5-a
    # quadratic trap — see lang_id_v2)
    keep = list(keep_cols)
    low = fan_out(docs).select(
        "doc_id", *keep, F.lower(F.col("text")).alias("_lt")
    )
    grams = F.expr(_char_gram_expr("_lt", 3, None))
    bucketed = low.select(
        "doc_id",
        *keep,
        _langid_buckets(grams, hash_fn).alias("_b"),
    )
    total = F.aggregate(
        F.col("_b"),
        F.lit(0).cast("long"),
        lambda acc, b: acc + F.element_at(arr, (b + 1).cast("int")),
    )
    return (
        bucketed.select(
            "doc_id",
            *keep,
            total.alias("_t"),
            F.size("_b").alias("n_trigrams"),
        ).select(
            "doc_id",
            *keep,
            F.when(
                F.col("n_trigrams") > 0,
                F.expr("_t div n_trigrams"),
            ).alias("lm_score"),
            "n_trigrams",
        )
    )


def score_tiers(
    scores: DataFrame,
    group_col: str = "lang",
    score_col: str = "lm_score",
    head_ppm: int = 100_000,
    middle_ppm: int = 300_000,
    bucket_q: int = 1000,
) -> DataFrame:
    """CCNet-style head/middle/tail quality tiers per group (Wenzek
    et al. 2020 §4.3: cut each language's corpus at perplexity
    percentiles; RedPajama-v2/Dolma keep the same three-way split) —
    WITHOUT the corpus-scale sort a naive ``ntile`` would pay.

    Rows are cut per ``group_col`` by ``score_col`` DESCENDING
    (higher = better, :func:`trigram_lm_score` convention): the top
    ``head_ppm`` parts-per-million of the group is ``head``, the
    next ``middle_ppm`` is ``middle``, the rest ``tail``.  Rows with
    NULL score are dropped (no evidence — callers gate those
    separately).

    Distributed shape (the whole point): percentiles come from an
    integer HISTOGRAM, never a sort — scores quantize to
    ``score div bucket_q`` buckets (truncating div, identical both
    engines), the (group, bucket) count is one map-side-combinable
    aggregation, the cumulative-from-top window runs over the TINY
    histogram (groups × bounded bucket range — the 1e-6-scaled LM
    scores span ~10⁴ buckets at the default quantum), and tiers come
    back as a broadcast join.  At 10^12 rows the corpus is touched
    by exactly one combinable agg and one broadcast-joined scan.

    Cut rule (deterministic, integer-exact): a bucket belongs to the
    head iff the count STRICTLY ABOVE it is < ``(total * head_ppm)
    div 10^6`` — whole buckets land on one side, so realized
    fractions deviate by at most one bucket's mass (shrink
    ``bucket_q`` to tighten; ties inside a bucket are
    indistinguishable by construction).  The reference has no
    corpus-curation surface; brief-driven (training-data tier)."""
    if bucket_q < 1:
        raise ValueError("bucket_q must be >= 1")
    if head_ppm < 0 or middle_ppm < 0 or head_ppm + middle_ppm > 1_000_000:
        raise ValueError("tier ppms must be >= 0 and sum <= 1e6")
    # Guard the score column with the value-neutral NONDETERMINISTIC
    # wrapper (the lang_gate trick, textops lang tier): this op
    # filters on the score, buckets it, AND emits it — if the caller
    # computed it with a higher-order fold (trigram_lm_score), filter
    # pushdown + CollapseProject would otherwise inline that fold
    # once PER REFERENCE and HOF subtrees are excluded from
    # subexpression elimination (measured here at 20k adversarial
    # docs: 44.7 s unguarded → 3.1 s guarded warm — the same ~6×
    # blowup lang_gate's guard closed; even a bare
    # where(isNotNull(lm_score)).count() on the unguarded input pays
    # 17.5 s).  The guard pins ONE evaluation
    # per pass; the histogram pass and the labeling pass still each
    # scan the input (CCNet's own two-pass shape) — callers at
    # cluster scale persist/checkpoint `scores` when the score is
    # expensive enough to amortize.
    scores = scores.withColumn(
        score_col,
        F.when(
            F.monotonically_increasing_id() >= 0, F.col(score_col)
        ),
    )
    g, s = F.col(group_col), F.col(score_col)
    rows = scores.where(s.isNotNull()).withColumn(
        "score_bucket", F.expr(f"{score_col} div {bucket_q}")
    )
    hist = rows.groupBy(group_col, "score_bucket").agg(
        F.count("*").alias("_n")
    )
    w_above = (
        Window.partitionBy(group_col)
        .orderBy(F.col("score_bucket").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy(group_col)
    tiers = hist.select(
        group_col,
        "score_bucket",
        F.coalesce(F.sum("_n").over(w_above), F.lit(0)).alias("_above"),
        F.sum("_n").over(w_all).alias("_total"),
    ).select(
        group_col,
        "score_bucket",
        F.when(
            F.col("_above")
            < F.expr(f"(_total * {head_ppm}) div 1000000"),
            F.lit("head"),
        )
        .when(
            F.col("_above")
            < F.expr(
                f"(_total * {head_ppm + middle_ppm}) div 1000000"
            ),
            F.lit("middle"),
        )
        .otherwise(F.lit("tail"))
        .alias("tier"),
    )
    return rows.join(
        F.broadcast(tiers), [group_col, "score_bucket"]
    )


def _n_tokens(col: str) -> Column:
    """The BPE-ish pre-tokenizer count expression (words + punctuation
    singles) that :func:`pack_sequences` (and its oracle) counts with.
    NULL-safe: ``size`` of a null extraction is -1 in legacy Spark,
    which would silently corrupt prefix sums (code-review r4b) — null
    text counts as zero tokens in both engines."""
    safe = F.coalesce(F.col(col), F.lit(""))
    return F.size(F.regexp_extract_all(safe, F.lit(r"\w+|[^\w\s]"), 0))


def pack_sequences(
    docs: DataFrame,
    budget_tokens: int = 2048,
    n_buckets: int = 256,
) -> DataFrame:
    """Sequence packing for LLM pretraining: assign documents to
    fixed-token-budget packs (the batch-construction pass between
    dedup/filtering and tokenization).

    Scale-correct shape: a GLOBAL greedy pack would be a
    single-partition running sum — instead docs hash into
    ``n_buckets`` independent streams (deterministic md5-48 bucket +
    within-bucket hash order, i.e. the reproducible shuffle real
    pipelines want anyway), and each bucket packs sequentially by
    prefix-sum: ``pack_id = floor(start_offset / budget)``.  Buckets
    are random samples of the corpus, so packing quality matches the
    global pass; parallelism is ``n_buckets`` regardless of corpus
    size; at 10^12 docs raise ``n_buckets`` (it only changes which
    docs share a pack, never validity).

    Start-offset packing is the standard scan-free approximation: a
    pack's total may overrun the budget by at most its LAST doc's
    tail (exact greedy close-on-overflow needs a sequential scan).
    Token counts are :func:`_n_tokens`' BPE-ish pre-tokenizer
    (words + punctuation singles).  Deterministic end-to-end: same
    corpus → same packs, both engines.

    Returns (doc_id, n_tokens, bucket, pack_id, pack_seq) — pack_seq
    is the doc's position within its pack."""
    if budget_tokens < 1 or n_buckets < 1:
        raise ValueError("budget_tokens and n_buckets must be >= 1")
    toks = docs.select(
        "doc_id",
        _n_tokens("text").alias("n_tokens"),
        (md5_hash48(F.col("doc_id").cast("string"), salt="pack:")
         % n_buckets).alias("bucket"),
        md5_hash48(F.col("doc_id").cast("string"), salt="order:").alias(
            "_ord"
        ),
    )
    w = Window.partitionBy("bucket").orderBy("_ord", "doc_id")
    start = (
        F.coalesce(
            F.sum("n_tokens").over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
    )
    # integer DIV, never float floor: the double mantissa loses
    # integers past 2^53, so prefix sums at extreme corpus scale would
    # shift pack boundaries (ADVICE r4); DIV is exact at any BIGINT
    # (both operands nonnegative, so DIV == floor on both engines)
    packed = toks.withColumn("_start", start).withColumn(
        "pack_id", F.expr(f"_start DIV {budget_tokens}").cast("long")
    )
    wp = Window.partitionBy("bucket", "pack_id").orderBy("_ord", "doc_id")
    return packed.select(
        "doc_id",
        "n_tokens",
        "bucket",
        "pack_id",
        F.row_number().over(wp).alias("pack_seq"),
    )


# BPE word filter: longer whitespace-split words are dropped
BPE_MAX_WORD_LEN = 64


def bpe_pair_stats(
    docs: DataFrame,
) -> DataFrame:
    """Adjacent-character pair counts over the corpus vocabulary —
    the statistic the first BPE merge iteration (Sennrich et al.,
    ACL'16) is chosen from, and the standard corpus-profile view for
    tokenizer training (which merges WOULD fire first, how skewed is
    the pair mass).

    The plan counts over DISTINCT words weighted by word frequency —
    exactly BPE's own corpus representation and the scale lever: the
    pair explode runs over the VOCABULARY (sublinear in corpus size,
    Heaps' law), not over every token occurrence; the only
    corpus-sized stage is the word-count hash-agg, which is map-side
    combinable.  Words longer than ``BPE_MAX_WORD_LEN`` are dropped
    (unbroken minified-JS/base64 runs are noise to a tokenizer and
    would make the per-word pair loop quadratic via substring's
    O(position) re-scan — the CLAUDE.md gram-plan rule; real BPE
    corpora pre-split such runs anyway).  Pure JVM; no Python.

    The split class is spelled out as explicit characters rather
    than ``\\s`` because Java's ``\\s`` includes U+000B while RE2's
    does not — a vertical tab in any document would silently diverge
    the Spark plan from the DuckDB oracle (the CLAUDE.md
    cross-engine regex-class gotcha; code-review r5)."""
    words = F.explode(
        F.split(F.col("text"), "[ \t\n\r\f]+")
    ).alias("word")
    wc = (
        docs.select(words)
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    pairs = wc.where(
        (F.length("word") >= 2) & (F.length("word") <= BPE_MAX_WORD_LEN)
    ).select(
        F.explode(
            F.expr(
                "transform(sequence(1, char_length(word)-1), "
                "i -> substring(word, i, 2))"
            )
        ).alias("pair"),
        "n",
    )
    return pairs.groupBy("pair").agg(F.sum("n").alias("n"))


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """Whole-document fingerprint (md5 of normalized text) + 48-bit
    integer form for bucketing."""
    norm = F.trim(F.regexp_replace("text", r"\s+", " "))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        md5_hash48(norm).alias("fingerprint48"),
    )


# ------------------------------------------------------------------
# training-pipeline hygiene ops (round 3): decontamination, PII
# redaction, within-doc repetition, deterministic sampling — the
# standard passes between crawl extraction and tokenization.

def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: drop every training document that
    shares at least one word ``n``-gram with an evaluation/benchmark
    set — the standard pre-training hygiene pass (C4/GPT-3-style
    13-gram overlap; default 8 fits the short synthetic docs).

    Distributed shape: both sides explode to DISTINCT n-grams; the
    benchmark side (thousands of eval questions vs billions of train
    docs) broadcasts, contaminated doc_ids come from one broadcast
    hash join + distinct, and the final pass is a LEFT ANTI join —
    never a cross join, no Python.  Returns the CLEAN subset of
    ``docs`` (all original columns)."""
    bench_grams = benchmark.select(
        F.explode(word_ngrams(n)).alias("gram")
    ).distinct()
    doc_grams = docs.select(
        "doc_id", F.explode(word_ngrams(n)).alias("gram")
    )
    dirty = (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .select("doc_id")
        .distinct()
    )
    return docs.join(dirty, "doc_id", "left_anti")


# RE2-compatible (and Java-regex-compatible) patterns so the DuckDB
# oracle can run the IDENTICAL expressions: no backrefs, no lookaround
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
# \+? BEFORE \b (ADVICE r3): \b cannot match between whitespace and
# '+', so the old \b\+? order left international numbers redacting to
# '+<PHONE>' — the literal plus must precede the word boundary
_PII_PHONE = r"\+?\b\d[\d -]{7,}\d\b"


def redact_pii(docs: DataFrame) -> DataFrame:
    """PII scrub: emails / bare IPv4s / phone-like digit runs → typed
    placeholder tokens, as one JVM ``regexp_replace`` chain (zero
    Python; order matters — emails first so their digits never match
    the phone pattern, IPs before phones for the same reason).

    Returns (doc_id, clean_text, n_redactions) — ``n_redactions``
    counts actual pattern MATCHES per stage (regexp_count), so input
    text that already contains a literal ``<EMAIL>``/``<IP>``/
    ``<PHONE>`` token is never miscounted as a redaction
    (code-review r3)."""
    t = F.col("text")
    step1 = F.regexp_replace(t, _PII_EMAIL, "<EMAIL>")
    step2 = F.regexp_replace(step1, _PII_IPV4, "<IP>")
    clean = F.regexp_replace(step2, _PII_PHONE, "<PHONE>")
    n_red = (
        F.regexp_count(t, F.lit(_PII_EMAIL))
        + F.regexp_count(step1, F.lit(_PII_IPV4))
        + F.regexp_count(step2, F.lit(_PII_PHONE))
    )
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        n_red.cast("int").alias("n_redactions"),
    )


def repetition_stats(
    docs: DataFrame, n: int = 3
) -> DataFrame:
    """Gopher-style within-document repetition features: total vs
    distinct word ``n``-gram counts and a ``repetitive`` flag (more
    than 30% duplicate n-grams — boilerplate / degenerate text).
    Integer arithmetic end-to-end (the flag compares
    ``(total-distinct)*10 > total*3``), so the DuckDB oracle is exact
    with no float-rounding hazard.  Projection only — no shuffle."""
    words = F.split(F.col("text"), " ")
    total = F.greatest(F.size(words) - F.lit(n - 1), F.lit(0))
    distinct = F.size(word_ngrams(n))
    return docs.select(
        "doc_id",
        total.cast("int").alias("total_ngrams"),
        distinct.cast("int").alias("distinct_ngrams"),
        (
            (total - distinct) * F.lit(10) > total * F.lit(3)
        ).alias("repetitive"),
    )


def hash_sample(
    docs: DataFrame,
    rate_pct: int = 10,
    by_rates: dict[str, int] | None = None,
    by: str = "lang",
) -> DataFrame:
    """Deterministic (reproducible, engine-portable) sampling: keep a
    row iff its md5-derived 48-bit hash modulo 100 falls under the
    rate — no RNG, so reruns, resumes, and the DuckDB oracle all pick
    the IDENTICAL sample.  ``by_rates`` gives per-group percentages
    (e.g. upsample low-resource languages), ``rate_pct`` the default.
    Plain filter — no shuffle, pushes to the scan."""
    bucket = md5_hash48(F.col("doc_id").cast("string"), salt="sample|") % 100
    if by_rates:
        rate: Column = F.lit(rate_pct)
        for key, pct in sorted(by_rates.items()):
            rate = F.when(F.col(by) == key, F.lit(pct)).otherwise(rate)
    else:
        rate = F.lit(rate_pct)
    return docs.where(bucket < rate)


def resolve_redirects(
    edges: DataFrame,
    max_hops: int = 8,
) -> DataFrame:
    """Follow redirect chains to their final target — (src, final,
    hops, resolved) per redirecting URL.  The crawl-graph closure
    every dedup/canonicalization tier wants: a→b→c collapses a AND b
    onto c without refetching anything.

    ``max_hops`` is a FIXED join count, not a convergence loop: real
    redirect chains are short (browsers give up around 20; the
    default 8 covers practice), so the plan is ``max_hops`` bounded
    self-joins — no driver-side iteration, no lineage growth, O(1)
    shuffles at any corpus size.  ``resolved`` is False when the
    final URL still redirects (a cycle or an over-long chain — both
    crawl-config errors worth surfacing, never worth spinning on).
    A URL with several recorded targets (conflicting captures) takes
    the lexicographically smallest — deterministic on both engines."""
    e = (
        edges.select(
            F.col("src").alias("_s"), F.col("dst").alias("_d")
        )
        .groupBy("_s")
        .agg(F.min("_d").alias("_d"))
    )
    cur = e.select(
        F.col("_s").alias("src"),
        F.col("_d").alias("final"),
        F.lit(1).alias("hops"),
    )
    for _ in range(max_hops - 1):
        nxt = e.select(
            F.col("_s").alias("final"), F.col("_d").alias("_nd")
        )
        cur = cur.join(nxt, "final", "left").select(
            "src",
            F.coalesce("_nd", "final").alias("final"),
            (
                F.col("hops")
                + F.when(F.col("_nd").isNotNull(), 1).otherwise(0)
            ).alias("hops"),
        )
    still = e.select(F.col("_s").alias("final")).withColumn(
        "_more", F.lit(True)
    )
    return cur.join(still, "final", "left").select(
        "src",
        "final",
        "hops",
        F.col("_more").isNull().alias("resolved"),
    )


def recrawl_candidates(
    entries: DataFrame,
    captures: DataFrame,
) -> DataFrame:
    """Recrawl planning: join sitemap entries
    (:func:`sitemap_entries`) against the crawl's capture index
    (:func:`zhtml_spark.sources.cdx_index`) and surface every URL
    that needs fetching — never captured (``reason='new'``) or
    sitemap ``lastmod`` strictly after the LAST capture
    (``reason='modified'``).  This is the conditional-refetch
    decision crawlers otherwise burn HTTP requests to discover.

    Timestamps compare lexicographically: ``lastmod`` (W3C datetime,
    date-first) collapses to digits and zero-pads/truncates to the
    capture's ts14 — both are big-endian digit strings, so string
    ``>`` is chronological ``>`` with no date parsing on either
    engine.  Documented approximation: an offset-bearing lastmod
    (``+02:00``) compares as LOCAL time against the UTC ts14 — the
    offset digits truncate away, bounding the error by the offset
    (≤14 h).  For recrawl planning that worst-cases as one refetch a
    few hours early or late on offset-annotated sitemaps (the
    overwhelmingly common forms are date-only and ``Z``); pipelines
    needing second-exact offset handling should parse lastmod with
    ``to_timestamp`` upstream and pass ts14 strings directly.
    Cost: one max-agg over captures (map-side combinable) + one left
    join on the URL key; index entries per URL, not per capture,
    reach the join."""
    last_cap = captures.groupBy("url").agg(
        F.max("ts14").alias("last_ts14")
    )
    lastmod14 = F.rpad(
        F.regexp_replace(F.col("lastmod"), r"[^0-9]", ""), 14, "0"
    )
    joined = entries.join(last_cap, "url", "left")
    reason = F.when(F.col("last_ts14").isNull(), F.lit("new")).when(
        F.col("lastmod").isNotNull()
        & (lastmod14 > F.col("last_ts14")),
        F.lit("modified"),
    )
    return (
        joined.withColumn("reason", reason)
        .where(F.col("reason").isNotNull())
        .select("url", "reason")
    )


def _host_quota_rank_cols(url_col: str, key_col: str):
    """(host, rank-key) shared by both phases of
    :func:`host_quota_sample` — ONE definition so the pre-sample and
    the final window can never order differently."""
    return (
        url_host(F.col(url_col)),
        md5_hash48(F.col(key_col).cast("string"), salt="quota|"),
    )


# host_quota_sample's phase-1 salt slices per host
HOST_QUOTA_SALTS = 32


def host_quota_presample(
    docs: DataFrame,
    max_per_host: int = 1000,
    url_col: str = "url",
    key_col: str = "doc_id",
) -> DataFrame:
    """Phase 1 of :func:`host_quota_sample` (exposed for plan/bound
    tests): rank within ``(host, salt)`` where
    ``salt = pmod(xxhash64(key), HOST_QUOTA_SALTS)`` and keep
    ``max_per_host`` per salt slice, so the final per-host window sees
    at most ``HOST_QUOTA_SALTS × max_per_host`` rows per host.  Sound because ranking is
    a total order on ``(rank_key, key)``: any row in the global
    per-host top-``max_per_host`` ranks at least as high inside its
    salt slice (a subset of the host's rows), so per-slice top-k
    keeps every global winner.  The salt function need not be
    cross-engine — it only partitions work, never changes
    survivors."""
    h, rk = _host_quota_rank_cols(url_col, key_col)
    salt = F.pmod(
        F.xxhash64(F.col(key_col).cast("string")),
        F.lit(HOST_QUOTA_SALTS),
    )
    w = Window.partitionBy(h, salt).orderBy(rk, F.col(key_col))
    return (
        docs.withColumn("_qsrank", F.row_number().over(w))
        .where(F.col("_qsrank") <= max_per_host)
        .drop("_qsrank")
    )


def host_quota_sample(
    docs: DataFrame,
    max_per_host: int = 1000,
    url_col: str = "url",
    key_col: str = "doc_id",
) -> DataFrame:
    """Per-domain quota capping — the domain-balancing pass every
    web-scale training corpus applies (C4/Gopher/RefinedWeb all cap
    per-host mass) so a single mega-host (a wiki mirror, a forum
    archive) cannot dominate the token budget.

    Keeps at most ``max_per_host`` docs per host, chosen by smallest
    salted md5-48 of the doc key — a deterministic uniform sample
    (same philosophy as :func:`hash_sample`: no RNG, reruns and the
    DuckDB oracle pick the IDENTICAL survivors), tie-broken by the
    key itself so duplicate hashes stay deterministic.

    Two-phase salted top-k (VERDICT r5 #3): a single per-host window
    would land a mega-host's ENTIRE row set (10^8-10^9 pages on a
    wiki mirror) in ONE task for a total sort — the classic skewed
    window straggler, and the sort is paid before the quota cuts
    anything.  Phase 1 (:func:`host_quota_presample`) ranks within
    ``(host, salt)`` — ``HOST_QUOTA_SALTS×`` more, uniformly smaller
    partitions — keeping ``max_per_host`` per slice; the final
    per-host window then sees at most ``HOST_QUOTA_SALTS ×
    max_per_host`` rows per host, bounded regardless of corpus size.
    Survivors are IDENTICAL to the single-window form by construction
    (per-slice top-k over a total order preserves every global
    winner), so the oracle is unchanged."""
    docs = host_quota_presample(docs, max_per_host, url_col, key_col)
    h, rk = _host_quota_rank_cols(url_col, key_col)
    w = Window.partitionBy(h).orderBy(rk, F.col(key_col))
    return (
        docs.withColumn("_qrank", F.row_number().over(w))
        .where(F.col("_qrank") <= max_per_host)
        .drop("_qrank")
    )


# substring_dup_spans' gram document-frequency cap
SUBSTRING_MAX_GRAM_FREQ = 20


def substring_dup_spans(
    docs: DataFrame,
    k: int = 25,
    min_len: int = 40,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Exact substring dedup (the Lee-et-al-style pass the dedup
    literature applies AFTER doc-level near-dup removal): find maximal
    substrings of length ≥ ``min_len`` shared verbatim across document
    PAIRS, with their offsets — (doc_a, doc_b, start_a, start_b,
    length), 0-based starts.

    Distributed shape (no suffix array needed): positioned char
    ``k``-grams hash to 48-bit keys (narrow shuffle rows), an
    inverted-index equality self-join finds matching positions, and a
    gaps-and-islands window per (pair, diagonal = pos_a − pos_b) merges
    CONSECUTIVE matches into maximal runs — a run of m consecutive
    k-gram matches is a shared substring of m + k − 1 chars.  Three
    shuffles (join, window, final agg), never a cross join; integer
    output end-to-end, so the DuckDB oracle is exact.

    The document-frequency cap (``SUBSTRING_MAX_GRAM_FREQ``) is the
    scale lever (same role as ``winnow_dup_candidates``'
    ``max_doc_freq``): a k-gram in f docs contributes f² join
    rows; boilerplate grams (headers, licenses) explode quadratically
    at corpus scale — cap their document frequency and runs split at
    the capped grams only (spans through ubiquitous boilerplate are
    exactly what substring dedup wants to surface anyway), always on
    (VERDICT r3 #2).

    ``hash_fn`` picks the positioned-gram hash (same split as
    :func:`winnow_fingerprints`, VERDICT r3 #4): ``"xxhash64"``
    (default) is the cheap engine path — a hash collision can at
    worst SPLIT a maximal run or admit a spurious short one, and at
    64 bits both are ~2⁻⁶⁴ per comparison; ``"md5"`` is the
    cross-engine md5-48 form the DuckDB oracle mirrors.
    """
    # fused gram→hash builder (r8): the df-gate pass below explodes
    # an array<bigint> of gram hashes directly — the k-char
    # gram-string array never materializes (_char_gram_expr)
    arr_h = F.expr(_char_gram_expr("text", k, _gram_hash(hash_fn)))
    docs = fan_out(docs)
    # Positioned pass as a ROW-ENGINE hybrid (r8): higher-order
    # lambdas evaluate interpreted (no whole-stage codegen), and at
    # one lambda call per corpus CHARACTER that interpreter overhead
    # — not the hashing — dominated the gram stage (~14 µs/gram
    # measured, 230 executor-core-s at 20k adversarial docs).  Short
    # docs therefore explode their position range and hash
    # ``substring(text, pos+1, k)`` as plain row expressions (codegen;
    # the O(pos) substring re-scan is bounded by the 48·k switch —
    # the same crossover _char_gram_expr uses); giant docs keep the
    # linear interpreted zip build, where quadratic re-scans would
    # dwarf interpreter overhead.  Gram strings, hashes, positions
    # are identical in both branches.
    if hash_fn == "xxhash64":
        row_hash = f"xxhash64(substring(text, pos + 1, {k}))"
    else:
        row_hash = (
            f"CAST(conv(substring(md5(substring(text, pos + 1,"
            f" {k})), 1, 12), 16, 10) AS BIGINT)"
        )
    switch_chars = 48 * k
    pos_range = (
        f"CASE WHEN length(text) < {k} THEN "
        f"CAST(array() AS ARRAY<INT>) "
        f"ELSE sequence(0, length(text) - {k}) END"
    )
    short = (
        docs.where(F.length("text") < switch_chars)
        .select(
            "doc_id",
            F.col("text"),
            F.explode(F.expr(pos_range)).alias("pos"),
        )
        .select("doc_id", "pos", F.expr(row_hash).alias("gh"))
    )
    giant = docs.where(F.length("text") >= switch_chars).select(
        "doc_id", F.posexplode(arr_h).alias("pos", "gh")
    )
    grams = short.unionByName(giant)
    # df-gate as a BROADCAST semi-join against the SHARED gram
    # set (r6, VERDICT r5 #5).  Two changes vs the old
    # keep-shuffle-join, both result-identical by construction:
    #
    # * df counts ``count(*)`` over per-doc DISTINCT grams
    #   (``array_distinct`` before explode) instead of
    #   ``count_distinct(doc_id)`` over positioned rows — the
    #   same number, but it partial-aggregates map-side;
    # * the keep set is ``2 <= df <= cap``, not ``df <= cap``: a
    #   df=1 gram exists in ONE doc and can never produce a
    #   cross-doc pair, and every gram inside a genuinely shared
    #   run has df >= 2, so no island can split.  The keep set is
    #   then bounded by DUP STRUCTURE (distinct shared grams),
    #   not corpus size — it broadcasts, and the positioned-gram
    #   table (one row per corpus character) is filtered to
    #   shared positions BEFORE its pair-join shuffle.  At 10^12
    #   docs that turns the dominant shuffle from O(corpus chars)
    #   into O(duplicated chars); statically the plan drops from
    #   5 hash exchanges over full-position rows to 3 (one over
    #   narrow distinct-gram rows + the two filtered join sides).
    # r8: the per-doc distinct runs on the HASH array (8-byte
    # comparisons) instead of the gram-string array — same df
    # counts (distinct grams and distinct hashes coincide short
    # of a 2^-64 collision, which this op's contract already
    # accepts for pair generation)
    keep = _shared_keys(
        docs.select(F.explode(F.array_distinct(arr_h)).alias("gh")),
        "gh",
        SUBSTRING_MAX_GRAM_FREQ,
    )
    grams = grams.join(F.broadcast(keep), "gh")
    a = grams.alias("a")
    b = grams.alias("b")
    pairs = (
        a.join(b, "gh")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.pos").alias("pos_a"),
            F.col("b.pos").alias("pos_b"),
            (F.col("a.pos") - F.col("b.pos")).alias("d"),
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "d").orderBy("pos_a")
    islands = pairs.withColumn(
        "brk",
        F.when(F.col("pos_a") - F.lag("pos_a").over(w) == 1, 0).otherwise(1),
    ).withColumn(
        "island",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy("doc_a", "doc_b", "d", "island")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.max("pos_a") - F.min("pos_a") + F.lit(k))
            .cast("int")
            .alias("length"),
        )
        .where(F.col("length") >= min_len)
        .select("doc_a", "doc_b", "start_a", "start_b", "length")
    )


def substring_dedup_apply(
    docs: DataFrame,
    spans: DataFrame,
) -> DataFrame:
    """APPLY exact-substring dedup (the action half of
    :func:`substring_dup_spans`, completing the Lee-et-al pipeline:
    detect shared runs, then CUT them from every doc but the first):
    for each (doc_a < doc_b) span, the doc_b occurrence
    [start_b, start_b + length) is removed; doc_a keeps its copy.

    Shape: cut intervals per doc → gaps-and-islands interval MERGE
    (overlapping cuts from different partners union cleanly) → one
    sorted struct-array per doc → a single ``aggregate`` fold splices
    the kept segments back together.  Two shuffles (merge window +
    per-doc collect) over the CUT set only — the corpus itself joins
    once and untouched docs pass through a null-guard unchanged.  No
    Python, no explode of the corpus text.

    Returns (doc_id, text, n_cut_chars) with ``text`` rewritten.
    Deterministic: same spans → same output, both engines."""
    cuts = spans.select(
        F.col("doc_b").alias("doc_id"),
        F.col("start_b").alias("cs"),
        (F.col("start_b") + F.col("length")).alias("ce"),
    )
    w = Window.partitionBy("doc_id").orderBy("cs", "ce")
    run_max = F.max("ce").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = cuts.withColumn(
        "new_isl",
        F.when(
            run_max.isNull() | (F.col("cs") > run_max), 1
        ).otherwise(0),
    ).withColumn(
        "isl",
        F.sum("new_isl").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = isl.groupBy("doc_id", "isl").agg(
        F.min("cs").alias("cs"), F.max("ce").alias("ce")
    )
    per_doc = merged.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("cs", "ce"))).alias("_cuts")
    )
    joined = docs.join(per_doc, "doc_id", "left")
    # fold: walk the sorted cuts keeping [pos, cs) segments, then the
    # tail after the last cut (substring past the end is safely empty)
    splice = F.expr(
        "aggregate(_cuts, struct(0L as pos, '' as acc), "
        "(st, c) -> struct(CAST(c.ce AS BIGINT) as pos, "
        "concat(st.acc, substring(text, "
        "CAST(st.pos AS INT) + 1, CAST(c.cs - st.pos AS INT))) as acc), "
        "st -> concat(st.acc, substring(text, "
        "CAST(st.pos AS INT) + 1, length(text))))"
    )
    cut_chars = F.expr(
        "aggregate(_cuts, 0L, (n, c) -> n + c.ce - c.cs)"
    )
    return joined.select(
        "doc_id",
        F.when(F.col("_cuts").isNull(), F.col("text"))
        .otherwise(splice)
        .alias("text"),
        F.coalesce(cut_chars, F.lit(0)).cast("long").alias("n_cut_chars"),
    )


def substring_gram_stats(
    docs: DataFrame,
    k: int = 25,
    max_gram_freq: int = 20,
) -> dict:
    """Plan-evidence helper for :func:`substring_dup_spans` (mirrors
    ``minhash_band_stats``; VERDICT r3 #2): per-k-gram bucket stats
    with the df cap OFF vs ON, so the boilerplate lever's effect is a
    per-round trend line.  ``candidate_pairs`` = Σ C(n_positions, 2)
    per gram hash — an upper bound on the inverted-index join's output
    rows (the a.doc < b.doc filter only shrinks it); ``max_bucket`` is
    the largest position list a single gram fans out to.  ONE
    aggregation pass serves both variants."""
    arr = F.expr(_char_gram_expr("text", k, None))
    per_gram = (
        docs.select("doc_id", F.explode(arr).alias("gram"))
        .select("doc_id", md5_hash48(F.col("gram")).alias("gh"))
        .groupBy("gh")
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("doc_id").alias("df"),
        )
    )
    v = _bucket_volume(
        per_gram,
        "n",
        F.col("df") <= max_gram_freq,
        F.max("df").alias("max_df"),
    )
    return {
        "k": k,
        "max_gram_freq": max_gram_freq,
        "max_df": v["max_df"],
        "uncapped_max_bucket": v["max_bucket"],
        "uncapped_candidate_pairs": v["candidate_pairs"],
        "capped_max_bucket": v["capped_max_bucket"],
        "capped_candidate_pairs": v["capped_candidate_pairs"],
    }


def winnow_candidate_stats(docs: DataFrame, max_doc_freq: int = 50) -> dict:
    """Plan-evidence helper for :func:`winnow_dup_candidates` (mirrors
    ``substring_gram_stats``; VERDICT r4 #1): per-fingerprint posting
    stats with the doc-frequency cap OFF vs ON.  ``candidate_pairs`` =
    Σ C(df, 2) per fingerprint — exactly the pair-expansion volume the
    posting-list plan generates; boilerplate fingerprints (shared
    headers/footers) dominate the uncapped sum on web-shaped corpora
    and are what the cap removes.  ONE aggregation pass serves both
    variants."""
    fps = winnow_fingerprints(docs)
    per_fp = fps.groupBy("fp").agg(F.count("*").alias("df"))
    v = _bucket_volume(per_fp, "df", F.col("df") <= max_doc_freq)
    return {
        "k": WINNOW_K,
        "window": WINNOW_WINDOW,
        "max_doc_freq": max_doc_freq,
        "max_df": v["max_bucket"],
        "uncapped_candidate_pairs": v["candidate_pairs"],
        "capped_max_df": v["capped_max_bucket"],
        "capped_candidate_pairs": v["capped_candidate_pairs"],
    }


def absolutize_url(base: Column, ref: Column) -> Column:
    """Resolve a (possibly relative) reference against a base page URL
    — RFC-3986-lite, pure JVM expressions (no Python, no UDF), so the
    crawl pipeline can absolutize extracted ``media_ref``s against the
    WARC target URI at scan speed.

    Handled: absolute refs, protocol-relative ``//host/…`` (base
    scheme attached), root-relative ``/p`` (base origin attached), and
    plain relative paths including ``./`` and ``../`` — dot-segments
    collapse via 8 passes each of a leftmost ``/./`` and ``/seg/../``
    rewrite (global regexp_replace scans resume after each
    replacement, so one pass per nesting LEVEL — 8 covers any real
    URL; both engines share the exact semantics, no backrefs).
    Collapse applies to the PATH only — a query/fragment like
    ``?f=/tmp/../etc`` passes through untouched (code-review r3) —
    and also normalizes absolute refs' paths, per RFC 3986
    remove_dot_segments.

    The ``/seg/../`` rewrite captures the character BEFORE the
    segment's leading slash and requires it to be neither ``/`` nor
    ``:``, so the URL authority can never be consumed as a dot-segment
    victim (code-review r3: ``https://h.example/../x`` previously
    collapsed to ``https://x`` — a different origin).  Replacement
    group refs (``$1``/``\\1``) are RE2-safe (only pattern-side
    backrefs/lookaround are not).

    ``../`` underflow past the root CLAMPS to the origin exactly like
    browsers and ``urllib.parse.urljoin`` (RFC 3986 remove_dot_segments):
    a final pass rewrites ``://host/../../`` runs to ``://host/``
    (r3: the integration test hit ``../x`` on a root-level page).

    An EMPTY reference short-circuits to the fragment-stripped base
    (query kept), per RFC 3986 §5.2.2 — ADVICE r3; ``href=""`` self
    links are common in real markup.  Documented approximation:
    ``?query``/``#frag``-only refs resolve against the base DIRECTORY
    (not the full base path) — rare, and never cross-origin."""
    stripped = F.regexp_replace(base, r"[?#].*$", "")
    scheme = F.regexp_extract(base, r"^([a-zA-Z][a-zA-Z0-9+.-]*):", 1)
    origin = F.regexp_extract(
        base, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+)", 1
    )
    # directory of the base path: through the LAST slash; a bare
    # origin (no path slash) resolves relative refs against "/"
    base_dir = F.regexp_extract(stripped, r"^(.*/)", 1)
    base_dir = F.when(
        F.length(base_dir) > F.length(origin), base_dir
    ).otherwise(F.concat(origin, F.lit("/")))
    joined = (
        # empty reference = the base itself minus its fragment (RFC
        # 3986 §5.2.2 "if defined(R.query)… else T.query = B.query";
        # ADVICE r3: this must NOT fall through to the base-directory
        # branch) — query preserved, fragment dropped, urljoin parity
        F.when(ref == "", F.regexp_replace(base, r"#.*$", ""))
        .when(ref.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*:"), ref)
        .when(ref.startswith("//"), F.concat(scheme, F.lit(":"), ref))
        .when(ref.startswith("/"), F.concat(origin, ref))
        .otherwise(F.concat(base_dir, ref))
    )
    # split off ?query/#fragment BEFORE collapsing, so path-like
    # query values (player?file=/a/../b) never get rewritten
    head = F.regexp_replace(joined, r"[?#].*$", "")
    tail = F.regexp_extract(joined, r"((?:\?|#).*)$", 1)
    # a trailing bare '..' or '.' (href=".." parent links) becomes
    # '../' / './' so the collapse passes see it (code-review r3d;
    # urljoin parity: the trailing slash is kept)
    head = F.regexp_replace(head, r"/\.\.$", "/../")
    head = F.regexp_replace(head, r"/\.$", "/./")
    for _ in range(8):
        head = F.regexp_replace(head, r"/\./", "/")
    for _ in range(8):
        head = F.regexp_replace(head, r"([^/:])/[^/?#]+/\.\./", "$1/")
    # underflow clamp: leftover ../ runs at the root vanish (browser
    # behavior); the authority is untouchable by construction
    head = F.regexp_replace(head, r"(://[^/?#]+/)(?:\.\./)+", "$1")
    return F.concat(head, tail)


# pagerank's quantized rank mass: sum(rank_q) ≈ PAGERANK_SCALE
PAGERANK_SCALE = 10**12
# damping factor in percent (0.85, the textbook value)
PAGERANK_DAMPING_PCT = 85


def pagerank(
    edges: DataFrame,
    iters: int = 4,
) -> DataFrame:
    """Fixed-iteration PageRank over a link graph — the classic
    crawl-quality weight (Common Crawl ranks hosts exactly this way
    and trains e.g. CCNet/RefinedWeb-style corpus curation on it).
    Returns ``(node, rank_q)`` with ranks in quantized integer space,
    ``sum(rank_q) ≈ PAGERANK_SCALE`` (minus integer-truncation dust).

    Cross-engine exactness (the kmeans_centroids recipe): float
    PageRank sums are order-dependent, so ALL arithmetic stays
    BIGINT — per-edge contribution ``r div outdeg``, damping
    ``(85 * x) div 100``, teleport ``((PAGERANK_SCALE * 15) div 100)
    div n`` — identical truncating division both engines.  The 10^12
    keeps 12 significant digits while ``PAGERANK_DAMPING_PCT *
    (contrib + share)`` stays under 2^63 at any graph size.

    Distributed shape, per iteration: ranks join the (src, dst,
    outdeg) edge table on src (shuffle on src), per-edge integer
    contribution, groupBy dst sum — MAP-SIDE COMBINABLE, which is the
    whole answer to in-degree skew: a page with 10^9 in-links reduces
    to one partial per task, never one reducer row per link.
    Dangling mass (nodes without out-edges, flagged once in the rank
    table) is one 1-row aggregate broadcast per iteration — the
    textbook redistribution, not the leaky shortcut.  Multi-edges are
    collapsed (DISTINCT src,dst); self-loops dropped.  At 10^12 edges
    each iteration is two shuffles of the edge table and a k-byte
    broadcast — the reference has no graph surface; this is
    brief-driven (training-data pipeline tier).

    Rounds run through :class:`_Rounds`: the weighted edge table is
    pinned once and each round's ranks are materialized (a round reads
    them three times, so a lazy plan grew 3^iters), which costs
    linearly at convergence depth (10–20 rounds)."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    e = (
        edges.select(
            F.col("src").alias("_s"), F.col("dst").alias("_d")
        )
        .where(F.col("_s") != F.col("_d"))
        .distinct()
    )
    nodes = (
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy(F.col("_s").alias("node")).agg(
        F.count("*").alias("outdeg")
    )
    nn = nodes.agg(F.count("*").alias("n"))
    teleport = (
        f"(({PAGERANK_SCALE} * {100 - PAGERANK_DAMPING_PCT}) div 100) div n"
    )

    def _round(edges_w: DataFrame, ranks: DataFrame) -> DataFrame:
        contrib = (
            ranks.join(edges_w, ranks["node"] == edges_w["_s"])
            .select(
                F.col("_d").alias("node"),
                F.expr("r div outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        dang = (
            ranks.where("dangling")
            .agg(F.coalesce(F.sum("r"), F.lit(0)).alias("dang"))
            .select(F.col("dang").cast("long").alias("dang"))
        )
        return (
            ranks.select("node", "n", "dangling")
            .join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                "n",
                "dangling",
                F.expr(
                    f"{teleport} + ({PAGERANK_DAMPING_PCT}"
                    " * (coalesce(contrib, cast(0 as bigint))"
                    " + (dang div n))) div 100"
                ).alias("r"),
            )
        )

    with _Rounds(edges.sparkSession) as rounds:
        edges_w = rounds.pin(
            e.join(outdeg, e["_s"] == outdeg["node"]).select(
                "_s", "_d", "outdeg"
            )
        )
        # ranks carry n so the per-node teleport term needs no
        # re-join, and the dangling flag so no round re-reads outdeg
        ranks = rounds.next(
            nodes.crossJoin(F.broadcast(nn))
            .join(outdeg, "node", "left")
            .select(
                "node",
                "n",
                F.col("outdeg").isNull().alias("dangling"),
                F.expr(f"{PAGERANK_SCALE} div n").alias("r"),
            )
        )
        for _ in range(iters):
            ranks = rounds.next(_round(edges_w, ranks))
        return rounds.result(ranks.select("node", F.col("r").alias("rank_q")))


def rebalance_sample(
    docs: DataFrame,
    target_bp: dict[str, int],
    by: str = "lang",
) -> DataFrame:
    """Sample a corpus DOWN to a target group distribution (language
    rebalancing à la The Pile / CC multilingual mixes): ``target_bp``
    maps group → share in basis points.  The sampler solves for the
    LARGEST total sample where every group can fill its share from
    the rows it has — ``T = min_g(count_g * 10000 div share_g)`` —
    then keeps each group at ``want_g = share_g * T div 10000`` via
    the deterministic hash-threshold rule (``md5-48 mod 10^6 <
    want_g * 10^6 div count_g``), so reruns, resumes, and the DuckDB
    oracle pick the IDENTICAL sample with no RNG.

    This is :func:`hash_sample`'s keep rule with the rates COMPUTED
    from the observed distribution instead of hand-set: one tiny
    group-count aggregate (map-side combinable), a 1-row min, a
    broadcast of ≤ len(target_bp) rate rows, then a pure scan filter
    — no window, no sort, no per-group shuffle, which is what lets it
    run over 10^12 rows (the exact-quota alternative is
    :func:`host_quota_sample`'s salted top-k shape).  Realized counts
    deviate from ``want_g`` by O(sqrt) binomial noise — the right
    trade for distribution matching.  Groups absent from
    ``target_bp`` are dropped.  Overflow bound: ``want_g * 10^6``
    needs ``count_g ≤ ~9·10^12`` per group (BIGINT headroom).
    Returns the kept rows (all input columns) plus ``rate_ppm``."""
    if not target_bp:
        raise ValueError("target_bp must be non-empty")
    if any(v <= 0 for v in target_bp.values()):
        raise ValueError("target shares must be positive")
    share: Column = F.lit(None).cast("long")
    for k, bp in sorted(target_bp.items()):
        share = F.when(F.col(by) == k, F.lit(bp)).otherwise(share)
    counts = (
        docs.where(F.col(by).isin(list(target_bp)))
        .groupBy(by)
        .agg(F.count("*").alias("cnt"))
        .select(by, "cnt", share.alias("share_bp"))
    )
    t = counts.select(
        F.expr("cnt * 10000 div share_bp").alias("cap")
    ).agg(F.min("cap").alias("t_total"))
    rates = counts.crossJoin(F.broadcast(t)).select(
        by,
        F.expr(
            "((share_bp * t_total) div 10000) * 1000000 div cnt"
        ).alias("rate_ppm"),
    )
    h = md5_hash48(F.col("doc_id").cast("string"), salt="rebal|")
    return docs.join(F.broadcast(rates), by).where(
        h % 1_000_000 < F.col("rate_ppm")
    )


def pq_books(
    emb: DataFrame,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Product-quantization codebooks: split each ``dim``-vector into
    ``m`` subspaces of ``dim/m`` and train ``k`` centroids per
    subspace with the SAME quantized-integer Lloyd as
    :func:`kmeans_centroids` (exact cross-engine, md5-48 init) —
    PQ is the memory side of large-scale ANN (Jégou et al., TPAMI'11):
    a 64-dim float vector compresses to ``m`` byte-ish codes, so a
    10^12-vector index fits a cluster's RAM where raw floats never
    would.  Returns ``(sub_idx, code, cv)`` with ``cv`` the quantized
    centroid subvector.  Training is m independent k-means runs, each
    with its own materialized rounds."""
    if dim % m:
        raise ValueError("dim must be divisible by m")
    d = dim // m
    books = None
    for j in range(m):
        sub = emb.select(
            F.col("vec_id").alias("vec_id"),
            F.slice(F.col("embedding"), j * d + 1, d).alias("embedding"),
        )
        bk = kmeans_centroids(
            sub, n_centroids=k, iters=iters
        ).select(
            F.lit(j).cast("int").alias("sub_idx"),
            F.col("centroid_id").alias("code"),
            F.col("centroid").alias("cv"),
        )
        books = bk if books is None else books.unionByName(bk)
    return books


def pq_codes(
    emb: DataFrame,
    books: DataFrame,
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """PQ encoder: assign every vector's j-th quantized subvector to
    its nearest codebook centroid (exact BIGINT L2, ``(dist, code)``
    tie-break — the same argmin rule as k-means assignment).
    Returns exploded ``(vec_id, sub_idx, code)`` — the compressed
    index, ``m`` small ints per vector.  One scan of the vectors
    against a BROADCAST m×k codebook, ``min_by`` groupBy argmin
    (map-side partial agg) — no window, no skew surface."""
    if dim % m:
        raise ValueError("dim must be divisible by m")
    d = dim // m
    parts = None
    for j in range(m):
        q = emb.select(
            F.col("vec_id").alias("vec_id"),
            _quantized(F.slice(F.col("embedding"), j * d + 1, d)).alias(
                "qv"
            ),
        )
        bj = books.where(F.col("sub_idx") == j)
        ass = (
            q.crossJoin(F.broadcast(bj))
            .select(
                "vec_id",
                "sub_idx",
                "code",
                _l2_q(F.col("qv"), F.col("cv")).alias("dist"),
            )
            .groupBy("vec_id", "sub_idx")
            .agg(
                F.min_by("code", F.struct("dist", "code")).alias(
                    "code"
                )
            )
        )
        parts = ass if parts is None else parts.unionByName(ass)
    return parts


def pq_adc_topk(
    emb: DataFrame,
    n_queries: int = 4,
    topk: int = 5,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes (the classic
    IVFADC-style scan without the coarse stage): each query computes
    a ``m × k`` distance TABLE to the codebook once, then every
    candidate's approximate distance is just ``m`` table lookups —
    never a float op against the raw vector.  Relationally: the
    distance table (n_queries·m·k rows — broadcastable at any corpus
    size) joins the code index on ``(sub_idx, code)`` and a
    map-side-combinable ``groupBy(query, vec) sum`` adds the m
    lookups; top-k by ``(adist, vec_id)`` row_number.  At 10^12
    vectors the scan touches only the m-int codes — the compressed
    index IS the working set, which is the entire point of PQ.
    Queries are the first ``n_queries`` vectors (like
    :func:`cosine_topk`); self-matches excluded.  Returns
    ``(query_id, neighbor_id, rank, adist)``."""
    books = pq_books(emb, m=m, k=k, iters=iters, dim=dim)
    codes = pq_codes(emb, books, m=m, dim=dim)
    d = dim // m
    qsub = None
    for j in range(m):
        qs = emb.where(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.lit(j).cast("int").alias("sub_idx"),
            _quantized(F.slice(F.col("embedding"), j * d + 1, d)).alias(
                "qv"
            ),
        )
        qsub = qs if qsub is None else qsub.unionByName(qs)
    dtab = qsub.join(books, "sub_idx").select(
        "query_id",
        "sub_idx",
        "code",
        _l2_q(F.col("qv"), F.col("cv")).alias("d"),
    )
    adist = (
        codes.join(F.broadcast(dtab), ["sub_idx", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d").alias("adist"))
        .where(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return (
        adist.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "rank", "adist")
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 4,
) -> DataFrame:
    """Distributed BPE tokenizer TRAINING (Sennrich et al. ACL'16 —
    the merge-table learner, completing :func:`bpe_pair_stats`' view
    of which merge fires first): ``n_merges`` rounds of
    count-the-pairs → pick the argmax pair → merge it everywhere.
    Returns the learned merge table ``(step, lhs, rhs, pair_n)``.

    Corpus representation is BPE's own: DISTINCT words weighted by
    frequency (the pair explode is vocabulary-sized — Heaps' law —
    never corpus-sized; the single corpus-scale stage is the
    map-side-combinable word count).  Each word's symbol sequence is
    a STRING with U+001F between symbols, so the merge step is a
    plain literal ``replace(sym, lhs‖US‖rhs, lhs‖rhs)`` — both
    engines' ``replace`` substitutes non-overlapping matches LEFT TO
    RIGHT, which is exactly BPE's greedy merge semantics ("aaaa"
    under (a,a) → "aa·aa", probed on Spark and DuckDB), so the
    DuckDB oracle replays the identical training run.  Argmax pair
    is a deterministic total order (count DESC, lhs ASC, rhs ASC)
    via TakeOrderedAndProject; if the vocabulary merges to single
    symbols early the table just ends (mirrored by the oracle's
    empty cross join).

    Scale: each round = one vocabulary-sized pair explode +
    combinable sum + a collected top-1 row + one ``replace`` scan,
    the symbol table materialized per round through :class:`_Rounds`
    (O(K) at vocab-sized K; the merge table is built from the
    collected rows, so it reads no freed round).  Words longer than
    ``BPE_MAX_WORD_LEN`` are dropped (minified/base64 runs are noise to
    a tokenizer); words containing U+001F/U+001E would corrupt the
    carrier and are dropped (never legitimate text)."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    sep = "\x1f"
    wc = (
        docs.select(
            F.explode(
                F.split(F.col("text"), "[ \t\n\r\f]+")
            ).alias("word")
        )
        .where(
            (F.length("word") >= 1)
            & (F.length("word") <= BPE_MAX_WORD_LEN)
            & ~F.col("word").contains(sep)
            & ~F.col("word").contains("\x1e")
        )
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )

    def _top(syms: DataFrame) -> list:
        # linear pair plan (CLAUDE.md gram rule): split ONCE into a
        # multi-referenced alias, adjacent pairs = zip of two shifted
        # slices — never a split inside a lambda
        pairs = (
            syms.where(F.col("sym").contains(sep))
            .select(F.expr(f"split(sym, '{sep}')").alias("parts"), "n")
            .select(
                F.explode(
                    F.arrays_zip(
                        F.expr("slice(parts, 1, size(parts) - 1)"),
                        F.expr("slice(parts, 2, size(parts) - 1)"),
                    )
                ).alias("p"),
                "n",
            )
            .select(
                F.col("p.`0`").alias("lhs"),
                F.col("p.`1`").alias("rhs"),
                "n",
            )
            .groupBy("lhs", "rhs")
            .agg(F.sum("n").alias("pair_n"))
        )
        return pairs.orderBy(
            F.col("pair_n").desc(), F.col("lhs").asc(),
            F.col("rhs").asc(),
        ).limit(1).collect()

    merges = []
    with _Rounds(docs.sparkSession) as rounds:
        syms = rounds.next(
            wc.select(F.concat_ws(sep, F.split("word", "")).alias("sym"), "n")
        )
        for step in range(n_merges):
            top = _top(syms)
            if not top:
                break
            lhs, rhs, pair_n = top[0]
            merges.append((step, lhs, rhs, pair_n))
            if step < n_merges - 1:
                merged = F.replace(
                    "sym", F.lit(lhs + sep + rhs), F.lit(lhs + rhs)
                )
                syms = rounds.next(syms.select(merged.alias("sym"), "n"))
    return docs.sparkSession.createDataFrame(
        merges, "step int, lhs string, rhs string, pair_n long"
    )


def bpe_encode(
    docs: DataFrame,
    merges: DataFrame,
) -> DataFrame:
    """Apply a trained BPE merge table (:func:`bpe_train`) to a
    corpus and return per-document token accounting ``(doc_id,
    n_words, n_tokens)`` — the budget arithmetic every training-data
    pipeline runs before packing (how many tokens does this corpus
    buy, and which documents are token-dense).

    Merge application is IDENTICAL to training's merge step: one
    greedy left-to-right literal ``replace`` per merge, in step
    order, on the U+001F symbol carrier — so encoding the training
    corpus reproduces exactly the symbol table training ended with
    (pytest-pinned against an independent Python BPE).  Step order
    needs no fixpoint loop: a merge's lhs/rhs are symbols created by
    EARLIER steps only, and concatenating two adjacent symbols never
    deletes the symbols between two others, so later merges cannot
    manufacture a new occurrence of an earlier pair.

    Distributed shape: the merge fold runs over the DISTINCT-word
    vocabulary (Heaps' law — vocabulary-sized, never corpus-sized),
    with the merge table collected IN-PLAN into one broadcast array
    row and folded via ``aggregate`` (no driver collect, no K-deep
    expression chain — one plan node however many merges); the
    corpus-scale side is one hash join of the encoded vocabulary
    onto the exploded word stream plus a map-side-combinable per-doc
    sum.  The encoded vocabulary is broadcast into that join
    (vocabularies up to ~10⁷ words fit executors).  Words failing
    training's own filters (> ``BPE_MAX_WORD_LEN`` chars, or containing
    U+001F/U+001E) are excluded from BOTH counts, matching what the
    tokenizer was trained on."""
    sep = "\x1f"
    words = docs.select(
        "doc_id",
        F.explode(
            F.split(F.col("text"), "[ \t\n\r\f]+")
        ).alias("word"),
    ).where(
        (F.length("word") >= 1)
        & (F.length("word") <= BPE_MAX_WORD_LEN)
        & ~F.col("word").contains(sep)
        & ~F.col("word").contains("\x1e")
    )
    # ONE broadcast row holding the whole merge table in step order
    # (struct sort is lexicographic on fields, step first)
    marr = merges.agg(
        F.sort_array(
            F.collect_list(F.struct("step", "lhs", "rhs"))
        ).alias("_m")
    )
    vocab = (
        words.select("word")
        .distinct()
        .crossJoin(F.broadcast(marr))
        .select(
            "word",
            F.aggregate(
                "_m",
                F.concat_ws(sep, F.split("word", "")),
                lambda acc, m: F.replace(
                    acc,
                    F.concat(m["lhs"], F.lit(sep), m["rhs"]),
                    F.concat(m["lhs"], m["rhs"]),
                ),
            ).alias("_sym"),
        )
        .select(
            "word",
            F.size(F.split("_sym", sep)).alias("_tok_n"),
        )
    )
    return (
        words.join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("_tok_n").alias("n_tokens"),
        )
    )


def decontaminate_fuzzy(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    bands: int = 4,
    rows: int = 2,
) -> DataFrame:
    """NEAR-duplicate benchmark decontamination: drop every training
    document whose banded MinHash signature collides with an
    evaluation/benchmark document in at least one band — the
    fuzzy companion to :func:`decontaminate` (exact n-gram overlap),
    catching lightly-edited / paraphrased eval leakage that shares no
    verbatim 8-gram (the Llama/GPT-4 eval-contamination reports'
    motivating case).

    Distributed shape: the benchmark side (thousands of eval rows vs
    billions of train docs) reduces to its DISTINCT ``(band,
    band_sig)`` bucket keys and BROADCASTS — the corpus-side scan
    computes batch signatures and probes the broadcast buckets with
    no shuffle of corpus text; contaminated ids then anti-join back.
    This is :func:`dedup_against_index`'s asymmetric shape with the
    index side inverted (tiny and broadcast instead of persisted and
    bucketed).  Returns the CLEAN subset of ``docs`` (all original
    columns)."""
    buckets = (
        _band_signatures(benchmark.select("doc_id", "text"), n, bands, rows)
        .select("band", "band_sig")
        .distinct()
    )
    sig = _band_signatures(docs.select("doc_id", "text"), n, bands, rows)
    dirty = _dominated_ids(sig, F.broadcast(buckets), 1)
    return docs.join(dirty, "doc_id", "left_anti")


# fractional bits of the fixed-point log2 (with_log2q)
LOG2Q_FRAC_BITS = 8


def with_log2q(df: DataFrame, x_col: str, out_col: str) -> DataFrame:
    """Append ``out_col`` = fixed-point log2 of BIGINT column
    ``x_col``: an integer ≈ ``2^LOG2Q_FRAC_BITS · log2(x)`` for
    ``x ≥ 1`` (NULL otherwise), computed by the classic
    mantissa-squaring digit recurrence in PURE 64-bit integer
    arithmetic — the primitive that makes data-dependent log scores
    (BM25 idf, DSIR log-likelihood ratios) cross-engine EXACT.  Float
    ``ln()`` is libm-dependent (Java Math.log vs DuckDB's C library
    need not round identically), so any oracle-gated score built on
    it would be hash-fragile; this recurrence is deterministic
    integer ops both engines.

    Algorithm: ``n = ilog2(x)`` via ``length(bin(x)) - 1`` (identical
    string semantics both engines), mantissa normalized to
    ``[2^30, 2^31)`` (squares stay < 2^62 — no BIGINT overflow), then
    per fractional bit: square; if the square crosses 2^61 the bit is
    1 and the shift renormalizes by 31, else 0 and 30.  Result
    ``n·2^LOG2Q_FRAC_BITS + bits``.  Truncation error ≤ ~2 ulp at
    8 fractional bits (≈0.8% of a doubling) — scoring-grade resolution,
    bit-identical everywhere.

    Built as ``LOG2Q_FRAC_BITS`` chained projections over
    multi-referenced aliases (CollapseProject keeps them materialized
    — the r5 single-use-alias gotcha), so the plan stays linear in the
    bit count; intended for SMALL tables (vocabularies, histograms,
    bucket stats), where the per-row cost is irrelevant."""
    two61 = 1 << 61
    df = df.select(
        "*",
        F.expr(
            f"CASE WHEN {x_col} >= 1 THEN "
            f"CAST(length(bin({x_col})) - 1 AS BIGINT) END"
        ).alias("_l2n"),
    )
    df = df.select(
        "*",
        F.expr(
            f"CASE WHEN _l2n <= 30 THEN shiftleft({x_col}, "
            f"CAST(30 - _l2n AS INT)) "
            f"ELSE shiftright({x_col}, CAST(_l2n - 30 AS INT)) END"
        ).alias("_l2m0"),
        F.col("_l2n").alias("_l2f0"),
    ).drop("_l2n")
    for i in range(LOG2Q_FRAC_BITS):
        df = df.select(
            "*",
            F.expr(
                f"CASE WHEN _l2m{i} * _l2m{i} >= {two61} "
                f"THEN shiftright(_l2m{i} * _l2m{i}, 31) "
                f"ELSE shiftright(_l2m{i} * _l2m{i}, 30) END"
            ).alias(f"_l2m{i + 1}"),
            F.expr(
                f"_l2f{i} * 2 + CASE WHEN _l2m{i} * _l2m{i} >= {two61} "
                f"THEN 1 ELSE 0 END"
            ).alias(f"_l2f{i + 1}"),
        ).drop(f"_l2m{i}", f"_l2f{i}")
    return df.withColumnRenamed(f"_l2f{LOG2Q_FRAC_BITS}", out_col).drop(
        f"_l2m{LOG2Q_FRAC_BITS}"
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """BM25 ranked keyword retrieval (Robertson–Spärck Jones /
    Okapi): top-``k`` documents per query with the standard
    ``k1=1.2, b=0.75`` parameterization, scored EXACTLY in integer
    arithmetic so the DuckDB oracle hash-matches.

    ``queries`` is ``(query_id, terms array<string>)`` — the small
    side, broadcast.  Scoring works the classic formula into integer
    form: idf = ln((N−df+0.5)/(df+0.5)) becomes
    ``log2q(2N−2df+1) − log2q(2df+1)`` (fixed-point log2 via
    :func:`with_log2q`; base-2 vs base-e only rescales all scores by
    a constant — ranking-invariant), and the tf normalization
    ``tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`` with k1=6/5, b=3/4 and
    avgdl = W/N multiplies through to the exact rational
    ``22·tf·W / (10·tf·W + 3·W + 9·dl·N)`` (W = corpus words, N =
    docs).  Per-term score = ``idf_q · 22·tf·W div (10·tf·W + 3·W +
    9·dl·N)``; doc score = Σ terms.

    Distributed shape: tf table = one (doc, word) partial-agg
    shuffle; df/idf live on the per-TERM table (vocabulary-sized —
    Heaps' law, never corpus-sized) where the log recurrence runs;
    query terms + idf broadcast-join the tf table (posting-list
    access — the scan touches only matching terms); dl joins on the
    doc key; one per-query top-k window over scored candidates
    (candidates = posting-list union, never the corpus).  Zero
    Python.  Overflow: ``idf_q·22·tf·W`` needs ``tf·W ≤ ~1.6e15``
    (8 fractional bits) — at larger corpora rescale W and N by a common
    factor before calling (only their ratio enters the score).

    Returns (query_id, doc_id, score_q, rank), rank 1..k by
    (score desc, doc_id) — ties broken deterministically."""
    words = fan_out(docs).select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).where(F.col("word") != "")
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    nw = docs.agg(
        F.count("*").alias("n_docs"),
    ).crossJoin(words.agg(F.count("*").alias("n_words")))
    dfreq = tf.groupBy("word").agg(F.count("*").alias("df"))
    qterms = queries.select(
        "query_id", F.explode("terms").alias("word")
    ).distinct()
    qdf = (
        qterms.join(dfreq, "word")
        .crossJoin(F.broadcast(nw))
        .select(
            "query_id",
            "word",
            F.expr("2 * n_docs - 2 * df + 1").alias("_xa"),
            F.expr("2 * df + 1").alias("_xb"),
            "n_docs",
            "n_words",
        )
    )
    qdf = with_log2q(qdf, "_xa", "_l2a")
    qdf = with_log2q(qdf, "_xb", "_l2b")
    qidf = qdf.select(
        "query_id",
        "word",
        (F.col("_l2a") - F.col("_l2b")).alias("idf_q"),
        "n_docs",
        "n_words",
    )
    scored = (
        tf.join(F.broadcast(qidf), "word")
        .join(dl, "doc_id")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(
                F.expr(
                    "idf_q * (22 * tf * n_words) div "
                    "(10 * tf * n_words + 3 * n_words + 9 * dl * n_docs)"
                )
            ).alias("score_q")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_q").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score_q", "rank")
    )


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every raw document by the log-likelihood ratio of its hashed
    bag-of-words under a TARGET distribution (the high-quality
    domain you want more of) vs the RAW corpus distribution —
    ``w(doc) = Σ_tokens [log p_target(bucket) − log p_raw(bucket)]``
    with add-one smoothing over ``n_buckets`` hashed unigram
    buckets.  Downstream, compose with :func:`hash_sample` /
    :func:`rebalance_sample` to keep a deterministic high-weight
    subset (DSIR's gumbel-noise sampler is RNG; the hash-threshold
    rule is this repo's reproducible equivalent).

    Both distributions are estimated from the DATA (unlike
    :mod:`langid_model`'s static seed weights), so the log runs
    in-engine: :func:`with_log2q`'s integer fixed-point log2 keeps
    it cross-engine exact.  Expansion (constants fold per corpus):
    ``llr(b) = log2q(t_b+1) − log2q(r_b+1) + log2q(R+B) −
    log2q(T+B)`` — computed on the ``n_buckets``-row bucket table,
    then ONE broadcast join onto the exploded token stream + a
    map-side-combinable per-doc sum.  The corpus-scale stages are
    the token explode and that sum; everything logarithmic lives on
    vocabulary-sized tables.  Zero Python, no windows, no sorts.

    Returns (doc_id, n_tokens, dsir_q); higher = more target-like.
    Docs with no tokens are absent (no bag to score).  Base-2 vs
    DSIR's natural log rescales every weight by the same constant —
    selection-order-invariant."""
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    bucket = md5_hash48(F.col("word"), salt="dsir|") % n_buckets

    def toks(d: DataFrame) -> DataFrame:
        return (
            d.select(
                "doc_id",
                F.explode(F.split(F.col("text"), " ")).alias("word"),
            )
            .where(F.col("word") != "")
            .select("doc_id", bucket.alias("bucket"))
        )

    raw = toks(docs)
    raw_counts = raw.groupBy("bucket").agg(F.count("*").alias("r_b"))
    tgt_counts = (
        toks(target).groupBy("bucket").agg(F.count("*").alias("t_b"))
    )
    totals = (
        raw_counts.agg(F.sum("r_b").alias("r_tot"))
        .crossJoin(tgt_counts.agg(F.sum("t_b").alias("t_tot")))
        .select(
            (F.col("r_tot") + n_buckets).alias("_xr"),
            (F.col("t_tot") + n_buckets).alias("_xt"),
        )
    )
    totals = with_log2q(totals, "_xr", "_l2r")
    totals = with_log2q(totals, "_xt", "_l2t")
    const = totals.select(
        (F.col("_l2r") - F.col("_l2t")).alias("llr_const")
    )
    buckets_tbl = (
        raw_counts.join(tgt_counts, "bucket", "left")
        .select(
            "bucket",
            (F.coalesce(F.col("t_b"), F.lit(0)) + 1).alias("_xa"),
            (F.col("r_b") + 1).alias("_xb"),
        )
    )
    buckets_tbl = with_log2q(buckets_tbl, "_xa", "_l2a")
    buckets_tbl = with_log2q(buckets_tbl, "_xb", "_l2b")
    llr = buckets_tbl.crossJoin(F.broadcast(const)).select(
        "bucket",
        (F.col("_l2a") - F.col("_l2b") + F.col("llr_const")).alias("llr_q"),
    )
    return (
        raw.join(F.broadcast(llr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("llr_q").alias("dsir_q"),
        )
    )


def dedup_lines_in_doc(
    docs: DataFrame,
) -> DataFrame:
    """WITHIN-document duplicate-line removal (RefinedWeb/Gopher-style
    repetition scrubbing — the APPLY side of :func:`repetition_stats`'
    flags): every non-blank line keeps only its FIRST occurrence
    inside the document; blank lines (structure) always survive.
    Corpus-level boilerplate is :func:`line_dedup`'s job — this pass
    removes self-repetition (scraped menus, pagination echoes,
    retry-duplicated paragraphs) that no cross-doc count can see.

    Plan: ZERO shuffles — one projection chain per row: split,
    per-line md5-48 keys via ``transform`` (each line hashed ONCE —
    never an O(text) expression inside the dedup lambda, the r5-a
    trap), then a positional ``filter`` keeping line i iff its key is
    absent from keys[0..i).  The keys array is multi-referenced (zip
    input + slice inside the lambda), so CollapseProject cannot
    inline it into the lambda body (the single-use-alias
    re-evaluation trap, CLAUDE.md).  Per-doc cost is O(L²) int
    compares over L = lines/doc — bounded by the page, not the
    corpus, and embarrassingly parallel at any scale.  Returns
    (doc_id, text, n_removed)."""
    import re as _re

    df = docs.select("doc_id", F.col("text").alias("_orig")).select(
        "doc_id",
        F.split(F.col("_orig"), _re.escape("\n")).alias("_lines"),
    )
    df = df.select(
        "doc_id",
        "_lines",
        F.transform(
            "_lines",
            lambda l: F.when(
                F.trim(l) != "",
                F.conv(F.substring(F.md5(F.trim(l)), 1, 12), 16, 10).cast(
                    "long"
                ),
            ),
        ).alias("_keys"),
    )
    kept = F.filter(
        F.arrays_zip(F.col("_keys").alias("k"), F.col("_lines").alias("l")),
        lambda s, i: s["k"].isNull()
        | (
            F.coalesce(
                F.array_position(
                    F.slice(F.col("_keys"), F.lit(1), i), s["k"]
                ),
                F.lit(0),
            )
            == 0
        ),
    )
    df = df.select("doc_id", "_lines", kept.alias("_kept"))
    return df.select(
        "doc_id",
        F.array_join(
            F.transform("_kept", lambda s: s["l"]), "\n"
        ).alias("text"),
        (F.size("_lines") - F.size("_kept")).cast("int").alias("n_removed"),
    )


def bigram_lm_selfscore(docs: DataFrame, n_buckets: int = 256) -> DataFrame:
    """Perplexity-style quality scoring WITHOUT an external language
    model: estimate a hashed-bigram LM from the corpus itself and
    score every document by its mean conditional log-probability
    ``mean_i log2 P(w_i | w_{i-1})`` with add-one smoothing — the
    CCNet/KenLM filtering idea with the LM trained in-plan from the
    data (low score = text unusual RELATIVE TO THE
    CORPUS: gibberish, boilerplate soup, wrong-language islands).
    :func:`trigram_lm_score` scores against STATIC per-language seed
    models; this op scores against the live corpus distribution.

    ``P(w2|w1) = (c(b1,b2) + 1) / (c(b1) + V)`` over ``V=n_buckets``
    hashed word buckets, logs via :func:`with_log2q` (cross-engine
    exact), so ``score_q = Σ [log2q(c12+1) − log2q(c1+V)] div
    n_pairs`` is oracle-checkable bit-for-bit.  Every scored bigram
    and context is in the LM by construction, so the count-table
    joins are inner joins.

    Distributed shape: bucket arrays are one md5 per WORD (transform,
    never per-pair rescans); pair streams are map-side explodes into
    combinable count aggs; the count tables are ≤ V² and ≤ V rows
    (vocabulary-bounded — Heaps' law caps real mass far below V²) and
    broadcast back onto the scoring stream; per-doc sum is
    map-side-combinable.  Docs with fewer than two words have no
    bigram to score and are absent from the output.  Returns
    (doc_id, n_pairs, lm_q, mean_q)."""
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")

    def pairs(d: DataFrame) -> DataFrame:
        base = d.select(
            "doc_id",
            F.filter(
                F.split(F.col("text"), " "), lambda w: w != ""
            ).alias("_w"),
        ).select(
            "doc_id",
            F.transform(
                "_w",
                lambda w: md5_hash48(w, salt="blm|") % n_buckets,
            ).alias("_b"),
        )
        # zip the bucket array against its own tail: one row per
        # adjacent pair; _b is multi-referenced so it stays
        # materialized (never re-hashed per element)
        npairs = F.greatest(F.size("_b") - 1, F.lit(0))
        return base.select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("_b"), 1, npairs).alias("b1"),
                    F.slice(F.col("_b"), 2, npairs).alias("b2"),
                )
            ).alias("p"),
        ).select(
            "doc_id",
            F.col("p.b1").alias("b1"),
            F.col("p.b2").alias("b2"),
        )

    ref_pairs = pairs(fan_out(docs))
    big = ref_pairs.groupBy("b1", "b2").agg(
        (F.count("*") + 1).alias("_x12")
    )
    big = with_log2q(big, "_x12", "l2_12").select(
        "b1", "b2", "l2_12"
    )
    uni = ref_pairs.groupBy("b1").agg(
        (F.count("*") + n_buckets).alias("_x1")
    )
    uni = with_log2q(uni, "_x1", "l2_1").select("b1", "l2_1")
    scored = (
        ref_pairs.join(F.broadcast(big), ["b1", "b2"])
        .join(F.broadcast(uni), ["b1"])
        .select("doc_id", (F.col("l2_12") - F.col("l2_1")).alias("_lp"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("_lp").alias("lm_q"),
        )
        .select(
            "doc_id",
            "n_pairs",
            "lm_q",
            F.expr("lm_q div n_pairs").alias("mean_q"),
        )
    )


def corpus_kl(
    docs: DataFrame,
    target: DataFrame,
    n_buckets: int = 1024,
) -> DataFrame:
    """ONE-row corpus-divergence diagnostic: quantized
    ``KL(target ‖ raw)`` over the hashed-unigram buckets — the number
    a corpus-mixing pipeline watches while tuning :func:`dsir_weights`
    / :func:`rebalance_sample` rates (how far is the raw mix from the
    target domain, and is it converging).  Same add-one-smoothed
    distributions and fixed-point logs as :func:`dsir_weights`:
    ``kl_q = Σ_b (t_b+1)·[log2q-ratio(b)] div (T+V) + totals-const``
    — the weight is the SMOOTHED target mass (the same (·+1)/(T+V)
    distribution the ratio uses), so Gibbs' inequality holds and
    ``kl_q ≥ 0`` up to log-quantization dust (identical corpora give
    exactly 0; base-2, scaled by 2^LOG2Q_FRAC_BITS).  Buckets absent from
    both corpora contribute 0 to the weighted sum (their smoothed
    ratio is the totals constant, folded in exactly), so the full
    V-bucket domain never materializes.  All log arithmetic on the
    ≤n_buckets-row table; the corpus-scale work is two token
    explodes into combinable count aggs.  Returns
    (n_raw_tokens, n_target_tokens, kl_q)."""
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    bucket = md5_hash48(F.col("word"), salt="dsir|") % n_buckets

    def counts(d: DataFrame, out: str) -> DataFrame:
        return (
            d.select(
                F.explode(F.split(F.col("text"), " ")).alias("word")
            )
            .where(F.col("word") != "")
            .select(bucket.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count("*").alias(out))
        )

    rc = counts(docs, "r_b")
    tc = counts(target, "t_b")
    # smoothed llr per bucket: log2q((t_b+1)) - log2q((r_b+1)) plus
    # the totals constant — identical structure to dsir_weights, but
    # weighted by t_b and folded to one row
    joined = tc.join(rc, "bucket", "full").select(
        "bucket",
        F.coalesce(F.col("t_b"), F.lit(0)).alias("t_b"),
        (F.coalesce(F.col("t_b"), F.lit(0)) + 1).alias("_xa"),
        (F.coalesce(F.col("r_b"), F.lit(0)) + 1).alias("_xb"),
    )
    joined = with_log2q(joined, "_xa", "_l2a")
    joined = with_log2q(joined, "_xb", "_l2b")
    totals = (
        rc.agg(F.sum("r_b").alias("r_tot"))
        .crossJoin(tc.agg(F.sum("t_b").alias("t_tot")))
        .select(
            "r_tot",
            "t_tot",
            (F.col("r_tot") + n_buckets).alias("_xr"),
            (F.col("t_tot") + n_buckets).alias("_xt"),
        )
    )
    totals = with_log2q(totals, "_xr", "_l2r")
    totals = with_log2q(totals, "_xt", "_l2t")
    num = joined.select(
        F.sum(
            (F.col("t_b") + 1) * (F.col("_l2a") - F.col("_l2b"))
        ).alias("_wsum"),
    )
    return num.crossJoin(F.broadcast(totals)).select(
        F.col("r_tot").alias("n_raw_tokens"),
        F.col("t_tot").alias("n_target_tokens"),
        F.expr(
            f"(_wsum div (t_tot + {n_buckets})) + (_l2r - _l2t)"
        ).alias("kl_q"),
    )


def chunk_documents(
    docs: DataFrame,
    max_tokens: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Sliding-window document chunking — the splitting pass between
    extraction and embedding/packing (RAG indexes, long-doc
    pretraining, context-window fitting): each document's word
    sequence becomes chunks of ≤ ``max_tokens`` words starting every
    ``max_tokens − overlap`` words, so consecutive chunks share
    ``overlap`` words of context (the standard HF/RAG scheme).  A
    final window whose content would be PURE overlap of the previous
    chunk is dropped (nothing new to index); empty documents produce
    no chunks.  :func:`pack_sequences` is the inverse-direction pass
    (many small docs → one budgeted pack).

    Plan: ZERO shuffles — per-row HOFs only: the word array is bound
    once and multi-referenced (filter + the slice lambda — the
    CollapseProject/single-use-alias trap again), chunk starts are a
    ``sequence`` filtered by the tail rule, and one ``posexplode``
    fans chunks out.  Deterministic; embarrassingly parallel;
    per-row cost O(words).  Returns (doc_id, chunk_id, n_words,
    chunk_text)."""
    if max_tokens < 1:
        raise ValueError("max_tokens must be >= 1")
    if not 0 <= overlap < max_tokens:
        raise ValueError("overlap must be in [0, max_tokens)")
    stride = max_tokens - overlap
    df = docs.select(
        "doc_id",
        F.filter(
            F.split(F.col("text"), " "), lambda w: w != ""
        ).alias("_w"),
    ).where(F.size("_w") > 0)
    starts = F.filter(
        F.sequence(
            F.lit(0),
            F.greatest(F.size("_w") - 1, F.lit(0)),
            F.lit(stride),
        ),
        lambda s: (s == F.lit(0)) | (s + F.lit(overlap) < F.size("_w")),
    )
    df = df.select("doc_id", "_w", starts.alias("_starts")).select(
        "doc_id",
        F.posexplode(
            F.transform(
                "_starts",
                lambda s: F.slice(F.col("_w"), s + 1, max_tokens),
            )
        ).alias("chunk_id", "_cw"),
    )
    return df.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size("_cw").cast("int").alias("n_words"),
        F.array_join("_cw", " ").alias("chunk_text"),
    )
