"""Training-data pipeline operators over the documents/embeddings tables.

Beyond the reference's graph kernels, a web-scale link-graph pipeline
needs corpus hygiene ops. All deterministic and oracle-checkable:
cross-system hashing uses md5 (identical hex output in Spark and
DuckDB); MinHash treats the md5 hex string itself as the hash value
(lexicographic MIN over strings is a valid MinHash — no integer
conversion needed, so no overflow/signedness mismatches between
engines).

- tokenize: non-whitespace runs (regexp '\\S+').
- word shingles: n-gram joins of consecutive tokens.
- minhash_signatures: k independent permutations via salted md5.
- lsh_candidate_pairs: band the signature (b bands x r rows); docs
  sharing any band bucket become candidate near-dup pairs.
- ngram_jaccard: exact Jaccard over distinct shingles for pairs.
- embedding_topk: brute-force cosine top-k (the exact baseline; an
  LSH/IVF bucketed variant would reuse lsh_candidate_pairs' shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

TOKEN_RE = r"\S+"


def tokens_df(docs: DataFrame) -> DataFrame:
    """(doc_id, tokens array<string>)."""
    return docs.select(
        "doc_id",
        F.regexp_extract_all("text", F.lit(TOKEN_RE), F.lit(0)).alias("tokens"),
    )


def shingles_df(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) — DISTINCT word n-grams per doc. Docs with fewer
    than n tokens contribute their whole token string as one shingle so
    short docs still participate in dedup."""
    t = tokens_df(docs)
    grams = F.when(
        F.size("tokens") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("tokens") - n),
            lambda i: F.array_join(F.slice("tokens", i + 1, n), " "),
        ),
    ).otherwise(F.array(F.array_join("tokens", " ")))
    return (
        t.select("doc_id", F.explode(grams).alias("shingle"))
        .distinct()
    )


def minhash_signatures(
    docs: DataFrame, n: int = 3, num_hashes: int = 8,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, h0..h{k-1}) — MinHash signature; h_i = MIN over shingles
    of md5(i || '#' || shingle) (lexicographic string min).

    ``shingles`` lets a caller that already materialized
    ``shingles_df(docs, n)`` (e.g. near_dup_clusters, which needs the
    same table again for the Jaccard pass) share one tokenize+distinct
    pass instead of recomputing it."""
    sh = shingles if shingles is not None else shingles_df(docs, n)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}#"), F.col("shingle")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _cap_buckets(
    buckets: DataFrame, id_col: str, max_bucket: int
) -> DataFrame:
    """Giant-bucket guard: append a ``sub`` column that splits any
    (band, bkey) bucket larger than ``max_bucket`` into ceil(n/cap)
    sub-buckets on a secondary deterministic hash of the member id.

    Why: the within-bucket self-join is quadratic in bucket size. A
    duplicate-heavy crawl — exactly the data dedup targets — can put
    millions of docs into ONE band bucket (identical boilerplate pages
    share every minhash), and an unguarded join goes O(m²). Sub-salting
    bounds every join group to ~max_bucket rows, so candidate volume is
    O(Σ cap·n_bucket) instead of O(Σ n_bucket²). The trade: two members
    of a split bucket in different sub-buckets are not candidates
    through THAT band (they usually still collide in another band; for
    true duplicates every band collides, so each band contributes its
    own independent 1/s chance of co-landing). Buckets at or under the
    cap are untouched, so results are identical to the unguarded join
    whenever no bucket exceeds the cap."""
    counts = buckets.groupBy("band", "bkey").agg(
        F.count(F.lit(1)).alias("_n")
    )
    return (
        buckets.join(counts, ["band", "bkey"])
        .select(
            "band",
            "bkey",
            F.when(
                F.col("_n") > max_bucket,
                F.pmod(
                    F.xxhash64(F.col(id_col)),
                    F.ceil(F.col("_n") / max_bucket).cast("long"),
                ),
            )
            .otherwise(F.lit(0))
            .alias("sub"),
            id_col,
        )
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket: int = 100_000,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(a, b) candidate near-dup pairs (a < b): docs sharing >=1 LSH band.

    Signature split into ``bands`` bands of r = num_hashes/bands rows;
    band key = md5 of the concatenated band slice. The band self-join is
    the scale path: buckets, not all-pairs — and any bucket larger than
    ``max_bucket`` is sub-salted (see _cap_buckets) so no join group is
    ever quadratic in a boilerplate-duplicate pile-up.
    """
    r = num_hashes // bands
    sig = minhash_signatures(docs, n, num_hashes, shingles=shingles)
    band_rows = []
    for bnd in range(bands):
        cols = [F.col(f"h{bnd * r + j}") for j in range(r)]
        band_rows.append(
            sig.select(
                "doc_id",
                F.lit(bnd).alias("band"),
                F.md5(F.concat_ws("|", *cols)).alias("bkey"),
            )
        )
    buckets = band_rows[0]
    for more in band_rows[1:]:
        buckets = buckets.unionAll(more)
    capped = _cap_buckets(buckets, "doc_id", max_bucket)
    left = capped.select("band", "bkey", "sub", F.col("doc_id").alias("a"))
    right = capped.select("band", "bkey", "sub", F.col("doc_id").alias("b"))
    return (
        left.join(right, ["band", "bkey", "sub"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def ngram_jaccard(
    docs: DataFrame, pairs: DataFrame, n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(a, b, jaccard) — exact shingle-set Jaccard for the given pairs.

    ``shingles``: a precomputed ``shingles_df(docs, n)`` (or any
    restriction of it to at least the docs appearing in ``pairs`` —
    only pair endpoints ever reach the intersection and size joins, so
    a pre-filtered table gives identical results while shuffling only
    endpoint rows; see near_dup_clusters)."""
    sh = shingles if shingles is not None else shingles_df(docs, n).persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    sa = sh.select(F.col("doc_id").alias("a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        pairs.join(sa, "a")
        .join(sb, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    za = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza"))
    zb = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("szb"))
    out = (
        pairs.join(inter, ["a", "b"], "left")
        .join(za, "a")
        .join(zb, "b")
        .select(
            "a",
            "b",
            F.round(
                F.coalesce(F.col("i"), F.lit(0)).cast("double")
                / (
                    F.col("sza") + F.col("szb")
                    - F.coalesce(F.col("i"), F.lit(0))
                ),
                6,
            ).alias("jaccard"),
        )
    )
    return out


def simhash(docs: DataFrame, bits: int = 32) -> DataFrame:
    """(doc_id, simhash) — SimHash fingerprint over distinct tokens.

    Token hash = first 15 hex digits of md5 (60 bits, identical in
    Spark's conv(.,16,10) and DuckDB's CAST('0x'|| . AS BIGINT), so the
    oracle matches bit-for-bit). Bit j of the fingerprint is set iff
    the sum over tokens of ±1 votes from the token hash's bit j is
    positive.
    """
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.regexp_extract_all("text", F.lit(TOKEN_RE), F.lit(0))
            )
        ).alias("tok"),
    )
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    t = toks.select("doc_id", h.alias("h"))
    j = t.select(
        "doc_id",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("j"),
    )
    votes = j.groupBy("doc_id", "j").agg(
        F.sum(
            F.expr("2 * ((h >> j) & 1) - 1")
        ).alias("s")
    )
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(
                F.col("s") > 0, F.expr("shiftleft(cast(1 as bigint), j)")
            ).otherwise(F.lit(0))
        ).alias("simhash")
    )


def winnow_fingerprints(
    docs: DataFrame, k: int = 5, window: int = 4
) -> DataFrame:
    """(doc_id, fp) — winnowing document fingerprints (the MOSS scheme):
    hash every token k-gram, slide a ``window``-wide window over the
    hash sequence, keep each window's minimum; the distinct kept hashes
    are the doc's fingerprint set. Guarantees every match of length
    >= k + window - 1 tokens shares a fingerprint, with density
    ~2/(window+1).

    k-gram hash = first 15 hex digits of md5 as int60 (identical in
    Spark's conv(.,16,10) and DuckDB's CAST('0x'|| . AS BIGINT)).
    Window-free formulation (no per-doc Window sort, whose partition is
    unbounded on long docs): position i's hash is replicated to the
    window starts it participates in — w copies via explode — and the
    per-window min is an ordinary partial-agg-able groupBy. Docs with
    fewer than k tokens contribute their whole token string; docs with
    fewer than k+window-1 tokens yield one window over all grams.
    """
    t = tokens_df(docs)
    grams = F.when(
        F.size("tokens") >= k,
        F.transform(
            F.sequence(F.lit(0), F.size("tokens") - k),
            lambda i: F.array_join(F.slice("tokens", i + 1, k), " "),
        ),
    ).otherwise(F.array(F.array_join("tokens", " ")))
    g = t.select(
        "doc_id",
        F.size(grams).alias("n"),
        F.posexplode(grams).alias("pos", "gram"),
    )
    h = g.select(
        "doc_id",
        "n",
        "pos",
        F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    # valid window starts containing pos: max(pos-window+1, 0) ..
    # min(pos, max(n-window, 0)) — the upper clamp drops incomplete
    # trailing windows (and degenerates to the single window 0 when the
    # doc has fewer grams than the window).
    rep = h.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.greatest(F.col("pos") - (window - 1), F.lit(0)),
                F.least(
                    F.col("pos"),
                    F.greatest(F.col("n") - window, F.lit(0)),
                ),
            )
        ).alias("w"),
        "h",
    )
    sel = rep.groupBy("doc_id", "w").agg(F.min("h").alias("fp"))
    return sel.select("doc_id", "fp").distinct()


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ann_hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic random hyperplanes shared with the SQL oracle:
    component (i, j) = (int(md5(f"{i}:{j}")[:15], 16) / 2^60) * 2 - 1
    — the same md5-hex-to-unit-interval trick DuckDB reproduces exactly
    (both divisions are by powers of two, so the doubles are identical
    bit-for-bit across systems)."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:15], 16)
             / float(2**60)) * 2.0 - 1.0
            for j in range(dim)
        ]
        for i in range(n_planes)
    ]


def embedding_ann_topk(
    embeddings: DataFrame,
    query_mod: int = 100,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 24,
    bands: int = 8,
    max_bucket: int = 100_000,
) -> DataFrame:
    """(q, neighbor, sim) — bucketed ANN cosine top-k per query vector.

    The 100 TB-shaped similarity search: sign-bit random-hyperplane LSH
    (SimHash for cosine) banded exactly like lsh_candidate_pairs —
    vectors sharing any band bucket become candidates; exact cosine is
    computed ONLY on candidates, then top-k per query. No all-pairs
    crossJoin anywhere: the only join is the band-bucket equi-join plus
    candidate-sized rerank joins. ``embedding_topk`` remains the exact
    brute-force baseline for recall measurement.
    """
    r = n_planes // bands
    planes = ann_hyperplanes(dim, n_planes)
    e = embeddings.select("vec_id", F.col("embedding").alias("v"))
    norm = e.select(
        "vec_id", "v", F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nrm")
    )
    bit_cols = [
        F.when(
            _dot(F.col("v"), F.array(*[F.lit(x) for x in planes[i]])) >= 0,
            F.lit("1"),
        )
        .otherwise(F.lit("0"))
        .alias(f"b{i}")
        for i in range(n_planes)
    ]
    sig = norm.select("vec_id", *bit_cols).persist()
    band_rows = [
        sig.select(
            "vec_id",
            F.lit(bnd).alias("band"),
            F.concat_ws("", *[F.col(f"b{bnd * r + j}") for j in range(r)]).alias(
                "bkey"
            ),
        )
        for bnd in range(bands)
    ]
    buckets = band_rows[0]
    for more in band_rows[1:]:
        buckets = buckets.unionAll(more)
    # same giant-bucket guard as lsh_candidate_pairs: a low-entropy
    # embedding pile-up (many near-identical vectors share every sign
    # bit) must not make the bucket self-join quadratic
    capped = _cap_buckets(buckets, "vec_id", max_bucket)
    qb = capped.where(F.col("vec_id") % query_mod == 0).select(
        "band", "bkey", "sub", F.col("vec_id").alias("q")
    )
    nb = capped.select("band", "bkey", "sub", F.col("vec_id").alias("neighbor"))
    cand = (
        qb.join(nb, ["band", "bkey", "sub"])
        .where(F.col("q") != F.col("neighbor"))
        .select("q", "neighbor")
        .distinct()
    )
    qv = norm.select(
        F.col("vec_id").alias("q"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    nv = norm.select(F.col("vec_id").alias("neighbor"), "v", "nrm")
    sims = (
        cand.join(qv, "q")
        .join(nv, "neighbor")
        .select(
            "q",
            "neighbor",
            F.round(
                _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")), 4
            ).alias("sim"),
        )
    )
    # top-k via window is safe here: each window partition holds a
    # CANDIDATE set (bounded by band-bucket size), never O(N).
    w = W.partitionBy("q").orderBy(F.col("sim").desc(), F.col("neighbor").asc())
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("q", "neighbor", "sim")
    )


def embedding_topk(
    embeddings: DataFrame, query_mod: int = 100, k: int = 5
) -> DataFrame:
    """(q, neighbor, sim) — brute-force cosine top-k per query vector.

    Queries = vec_id % query_mod == 0 (deterministic subset); sim
    rounded to 4 dp; rank by (sim desc, neighbor asc) for a
    deterministic result. This is the exact baseline; the bucketed LSH
    variant reuses lsh_candidate_pairs' band-join shape at scale.
    """
    e = embeddings.select(
        "vec_id", F.col("embedding").alias("v")
    )
    norm = e.select(
        "vec_id", "v", F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nrm")
    ).persist()
    q = norm.where(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("q"), F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    sims = (
        q.crossJoin(norm.select(F.col("vec_id").alias("neighbor"), "v", "nrm"))
        .where(F.col("q") != F.col("neighbor"))
        .select(
            "q",
            "neighbor",
            F.round(
                _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")), 4
            ).alias("sim"),
        )
    )
    w = W.partitionBy("q").orderBy(F.col("sim").desc(), F.col("neighbor").asc())
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("q", "neighbor", "sim")
    )


# ------------------------------------------------------------------ text
# analysis operators: quality scoring + n-gram/stopword language ID.
# Both fully deterministic and DuckDB-oracle-checkable.

STOPWORDS = {
    "en": ["the", "a", "an", "of", "and", "in", "to", "is", "it", "that"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "du", "que"],
    "es": ["el", "la", "los", "las", "es", "un", "una", "y", "de", "que"],
}
PUNCT_RE = r"[.,!?;:]"


def quality_score(docs: DataFrame) -> DataFrame:
    """(doc_id, n_chars, n_tokens, punct_ratio, stop_ratio, score) —
    cheap corpus-hygiene heuristics: punctuation density, English
    stopword fraction, and a blended score in [0, 1]. All ratios are
    rounded to 6 dp for cross-system hashing."""
    toks = F.split(F.lower(F.col("text")), r"\s+")
    en = F.array([F.lit(w) for w in STOPWORDS["en"]])
    n_tokens = F.size(
        F.regexp_extract_all("text", F.lit(TOKEN_RE), F.lit(0))
    ).cast("long")
    n_chars = F.length("text").cast("long")
    n_punct = F.size(
        F.regexp_extract_all("text", F.lit(PUNCT_RE), F.lit(0))
    ).cast("long")
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(en, t))).cast(
        "long"
    )
    punct_ratio = F.round(
        n_punct / F.greatest(n_chars, F.lit(1)).cast("double"), 6
    )
    stop_ratio = F.round(
        n_stop / F.greatest(n_tokens, F.lit(1)).cast("double"), 6
    )
    # blended score: long-enough docs with natural punctuation and
    # stopword density score high; degenerate blobs score low
    score = F.round(
        F.least(n_tokens.cast("double") / 20.0, F.lit(1.0)) * 0.4
        + F.least(stop_ratio * 4.0, F.lit(1.0)) * 0.4
        + F.least(punct_ratio * 20.0, F.lit(1.0)) * 0.2,
        6,
    )
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stop_ratio"),
        score.alias("score"),
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, top_bigram_frac, dup_trigram_frac) —
    Gopher-style repetition quality signals: the fraction of word
    bigram instances taken by the single most frequent bigram, and the
    fraction of word trigram instances that are repeats of an earlier
    trigram in the same doc. High values flag boilerplate / template /
    keyword-stuffed pages for corpus filtering.

    Scale shape: n-grams stay an in-row array transform (JVM-side, no
    UDF); the only shuffles are partial-agg groupBys keyed by
    (doc_id, gram) then doc_id — one reduced row per key either way.
    """
    t = tokens_df(docs)

    def grams(n: int):
        return F.when(
            F.size("tokens") >= n,
            F.transform(
                F.sequence(F.lit(0), F.size("tokens") - n),
                lambda i: F.array_join(F.slice("tokens", i + 1, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    bi = (
        t.select("doc_id", F.explode(grams(2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("mx"), F.sum("c").alias("tot2"))
    )
    tri = (
        t.select("doc_id", F.explode(grams(3)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("ndist"), F.sum("c").alias("tot3"))
    )
    return (
        t.select("doc_id", F.size("tokens").cast("long").alias("n_tokens"))
        .join(bi, "doc_id", "left")
        .join(tri, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.coalesce(F.col("mx") / F.col("tot2"), F.lit(0.0)), 6
            ).alias("top_bigram_frac"),
            F.round(
                F.coalesce(
                    (F.col("tot3") - F.col("ndist")) / F.col("tot3"),
                    F.lit(0.0),
                ),
                6,
            ).alias("dup_trigram_frac"),
        )
    )


def corpus_ngram_dedup(docs: DataFrame, n: int = 5) -> DataFrame:
    """(doc_id, n_grams, n_dup_grams, dup_frac) — C4-style cross-doc
    duplication: for each doc, how many of its DISTINCT word n-grams
    also occur in at least one other document. dup_frac near 1 marks a
    doc as mostly boilerplate shared with the rest of the corpus —
    the aggregate view a span-level dedup pass would act on.

    Shares shingles_df with the MinHash pipeline (short docs fall back
    to their whole token string). Scale shape: doc-frequency is a
    partial-agg groupBy(shingle); the shingle⋈docfreq join is the
    standard big-big hash join on the shingle key (both sides shuffle
    once, co-partitioned).
    """
    sh = shingles_df(docs, n).persist()
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("dfreq"))
    per = (
        sh.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("dfreq") > 1, 1).otherwise(0)).alias(
                "n_dup_grams"
            ),
        )
    )
    out = per.select(
        "doc_id",
        "n_grams",
        "n_dup_grams",
        F.round(F.col("n_dup_grams") / F.col("n_grams"), 6).alias("dup_frac"),
    )
    return out


def sample_documents(
    docs: DataFrame, rates: dict[str, int], default_pct: int = 0,
    salt: str = "s0",
) -> DataFrame:
    """(doc_id, lang) — deterministic stratified corpus sampling: keep a
    doc iff bucket(doc_id) < rates[lang] (percent, 0-100). The bucket is
    the first 8 hex chars of md5(salt || doc_id) mod 100 — engine-
    agnostic (DuckDB computes the identical bucket), reshuffle-stable,
    and re-runnable: the same doc always lands in the same bucket, so
    raising a language's rate only ADDS docs to the sample.

    The per-language mixing rates are the standard knob when composing
    a training corpus from a multilingual crawl. Pure projection +
    filter: pushes down, no shuffle.
    """
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(100),
    )
    rate = F.lit(default_pct)
    for lang in sorted(rates):
        rate = F.when(F.col("lang") == lang, F.lit(rates[lang])).otherwise(rate)
    return docs.select("doc_id", "lang").where(bucket < rate)


def top_ngrams(docs: DataFrame, n: int = 3, k: int = 20) -> DataFrame:
    """(gram, cnt) — the k globally most frequent word n-grams, ties
    broken by gram ascending. Corpus profiling / boilerplate discovery.

    Plan shape: in-row array n-grams (no UDF) → partial-agg'd
    groupBy(gram) → TakeOrderedAndProject (per-partition top-k then a
    k-row merge on the driver — never a full global sort).
    """
    t = tokens_df(docs)
    grams = F.when(
        F.size("tokens") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("tokens") - n),
            lambda i: F.array_join(F.slice("tokens", i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        t.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("gram"))
        .limit(k)
    )


def detect_language(docs: DataFrame) -> DataFrame:
    """(doc_id, pred_lang) — stopword-list language ID: the language
    whose stopword list covers the largest fraction of the doc's tokens
    (ties broken alphabetically; zero hits -> 'und').

    Single-pass melt: ONE scan of the token stream joined against a
    broadcast (lang, word) table, then one (doc_id, lang) aggregation —
    O(1) aggregation passes regardless of how many languages the
    wordlist grows to (the per-language-aggregation formulation was
    O(L) scans). Zero-hit languages can never win the argmax, so
    dropping them from the melt preserves the exact semantics; docs
    with no hits at all fall out to 'und' via the final left join."""
    spark = docs.sparkSession
    wordlist = spark.createDataFrame(
        [(lang, w) for lang, ws in sorted(STOPWORDS.items()) for w in ws],
        schema="lang string, tok string",
    )
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(F.lower(F.col("text")), r"\s+")
        ).alias("tok"),
    )
    hits = (
        toks.join(F.broadcast(wordlist), "tok")
        .groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    # argmax by (hits desc, lang asc) as a struct-min — no window
    best = (
        hits.groupBy("doc_id")
        .agg(
            F.min(
                F.struct((-F.col("hits")).alias("nh"), F.col("lang"))
            ).alias("m")
        )
        .select("doc_id", F.col("m.lang").alias("pred_lang"))
    )
    return docs.select("doc_id").join(best, "doc_id", "left").select(
        "doc_id", F.coalesce("pred_lang", F.lit("und")).alias("pred_lang")
    )


def near_dup_clusters(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    max_rounds: int = 64,
    max_bucket: int = 100_000,
    metrics_out: dict | None = None,
    algorithm: str = "hashmin",
    config=None,
) -> DataFrame:
    """(doc_id, canonical_id) — end-to-end near-dup dedup: LSH candidate
    pairs, exact Jaccard filter at ``threshold``, then connected
    components of the pair graph (kernels/components.py) to a PROVEN
    fixpoint — fail-loud if the round budget is exhausted, because a
    fixed round count would silently under-merge a pairwise near-dup
    CHAIN whose pair-graph diameter exceeds it (clusters are usually
    near-cliques, but "usually" is not a correctness argument).
    canonical_id = min doc_id in the cluster; unclustered docs are
    their own canonical.

    Scale shape (r6): the label loop runs over the PAIR-GRAPH
    ENDPOINTS only (O(near-dup docs), not O(corpus)); the full corpus
    joins the mapping once at the end. ``algorithm="boruvka"`` swaps
    the hash-min supersteps for the O(log V)-guaranteed Boruvka mode —
    the right call when dup chains are long (boilerplate series,
    pagination trails); hash-min rounds are O(chain diameter)."""
    from pyspark.sql import Observation

    from planar_spark.graph.superstep import materialize

    # ONE tokenize+distinct pass (r8): the shingle table feeds both the
    # MinHash signatures and the exact-Jaccard pass — previously each
    # recomputed shingles_df from scratch (regexp tokenize + explode +
    # distinct over the whole corpus, the single most expensive scan of
    # the pipeline, paid twice).
    sh = shingles_df(docs, n).persist()
    # materialize the candidate pairs ONCE: ngram_jaccard references the
    # pairs plan twice (intersection join + final left join), and the
    # LSH subtree (signatures + band join + bucket-cap count join) is
    # too expensive to re-execute per reference
    obs_p = Observation()
    pairs = materialize(
        lsh_candidate_pairs(
            docs, n, num_hashes, bands, max_bucket, shingles=sh
        )
        .observe(obs_p, F.count(F.lit(1)).alias("n"))
    )
    if metrics_out is not None:
        metrics_out["candidate_pairs"] = int(obs_p.get["n"] or 0)
    # Jaccard touches only PAIR ENDPOINTS: pre-filter the (cached)
    # shingle table with a broadcast semi-join on the endpoint set
    # (guide-style Bloom/semi-join pre-filter) so the intersection
    # join shuffles O(endpoint shingles), not O(corpus shingles) —
    # identical results, the non-endpoint rows could never survive the
    # inner joins anyway.
    ep = (
        pairs.select(F.col("a").alias("doc_id"))
        .unionAll(pairs.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    sh_ep = sh.join(F.broadcast(ep), "doc_id", "left_semi")
    sims = ngram_jaccard(docs, pairs, n, shingles=sh_ep)
    # materialize the (tiny) pair-graph edge list once so the label loop
    # references a leaf, not the whole LSH/Jaccard tree
    obs_e = Observation()
    edges = materialize(
        sims.where(F.col("jaccard") >= threshold)
        .select("a", "b")
        .observe(obs_e, F.count(F.lit(1)).alias("n"))
    )
    sh.unpersist()
    n_dup_edges = int(obs_e.get["n"] or 0)
    if metrics_out is not None:
        metrics_out["dup_edges"] = n_dup_edges
    if n_dup_edges == 0:
        if metrics_out is not None:
            metrics_out["rounds"] = 0
        return docs.select(
            "doc_id", F.col("doc_id").alias("canonical_id")
        )
    from planar_spark.graph.tables import GraphTables
    from planar_spark.kernels.components import connected_components

    lg = GraphTables.from_edges(
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    r = connected_components(
        lg, config, max_iterations=max_rounds, algorithm=algorithm
    )
    if not r.converged:
        lg.unpersist()
        # an exhausted loop would silently under-merge a >max_rounds-
        # diameter chain — fail loudly, same convention as scc/mst
        raise RuntimeError(
            f"near_dup_clusters: hash-min not converged in {max_rounds} "
            "rounds; raise max_rounds (pair-graph diameter exceeds it) "
            "or pass algorithm='boruvka' (O(log V) rounds guaranteed)"
        )
    if metrics_out is not None:
        metrics_out["rounds"] = r.steps_run
    mapping = r.state.select(
        F.col("vid").alias("doc_id"), F.col("label").alias("_canon")
    )
    out = (
        docs.select("doc_id")
        .join(mapping, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_canon", F.col("doc_id")).alias("canonical_id"),
        )
    )
    lg.unpersist()
    return out
