"""Trigram fuzzy search — the reference's flagship pipeline
(geo_manager.py:440-619, fuzzy.py:1-35) as one lazy DataFrame DAG:

    query grams → postings probe → count → candidate top-k(500) →
    join shapes → filters → Tversky/population scoring → dedupe by
    clean_value → order by score → limit

Scale design (SURVEY.md §3.1/§4): the inverted `postings(ngram, entity_id)`
table is the data-layout optimization the reference ships as a JSON file; we
derive it with `explode` and, at scale, persist it bucketed by `ngram`
(geo.ingest) so the probe is a pruned scan. The probe filter
(`ngram IN (...)`) is pushdown-able; the candidate cap bounds the expensive
scoring join to ≤ max(num_results, 500) rows regardless of corpus size —
that cap becomes a broadcast side for the shapes join. That one join
also carries the full shape record as the `extra` struct through the
dedupe, order and limit, so the result needs no second join. The
Damerau-Levenshtein distance is a payload, not a ranking signal
(geo_manager.py:616-618 rank on `score` only): callers compute it in the
driver with `result_distance` on the ≤ num_results collected rows, so no
plan here runs a Python worker.

Determinism note (documented divergence, SURVEY.md §7): the reference's
candidate cap and clean_value dedupe break ties by dict insertion order —
unspecified. We define: cap ties → lowest entity id; dedupe keeps highest
score then lowest id.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from yat_geo_db_spark.geo.radius import shape_filters_predicate

#: oversampling floor "to address post result filtering" (geo_manager.py:552-555)
CANDIDATE_FLOOR = 500


# --------------------------------------------------------------------------
# F1/F6: trigrams & cleaning — as expressions (index side) and Python (query side)
# --------------------------------------------------------------------------

def clean_entity(val: str) -> str:
    """Query-side cleaning (geo_manager.py:445-449, lower_only=True)."""
    return re.sub("[^0-9a-zA-Z ]+", "", val).lower()


def ngrams_list(s: str, n: int = 3) -> list[str]:
    """Query-side q-grams, no padding (fuzzy.py:5-6). Duplicates preserved."""
    return [s[i:i + n] for i in range(len(s) - n + 1)]


def clean_entity_col(col: Column) -> Column:
    """Index-side cleaning as a built-in expression."""
    return F.lower(F.regexp_replace(col, "[^0-9a-zA-Z ]+", ""))


def ngrams_col(col: Column, n: int = 3) -> Column:
    """Index-side q-grams as a built-in expression (duplicates preserved —
    posting multiplicity feeds the candidate count, geo_manager.py:584-586).
    Strings shorter than n yield an empty array."""
    return F.when(
        F.length(col) < n, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(col) - (n - 1)),
            lambda i: F.substring(col, i, n),
        )
    )


# --------------------------------------------------------------------------
# F2/F8/F9: scoring expressions
# --------------------------------------------------------------------------

def tversky_index_col(query: str, source_grams: Column, source_nonempty: Column,
                      a: float = 0.85, b: float = 0.15) -> Column:
    """Asymmetric trigram-set similarity (fuzzy.py:9-31) of a query literal
    vs a source trigram-set column. The reference's weight-renormalization
    quirk (fuzzy.py:18-19) is identity for every call site (weights already
    sum to 1), so plain weights are the faithful semantics."""
    q_set = sorted(set(ngrams_list(query)))
    if not query:
        return F.lit(0.0)
    q_arr = F.array(*[F.lit(g) for g in q_set])
    inter = F.size(F.array_intersect(q_arr, source_grams)).cast("double")
    v1 = F.lit(float(len(q_set))) - inter
    v2 = F.size(F.array_distinct(source_grams)).cast("double") - inter
    score = inter / (inter + F.lit(a) * v1 + F.lit(b) * v2)
    # empty source (or 0/0) → 0, matching the reference's guard + except→0
    return F.when(source_nonempty & (inter > 0), score).otherwise(F.lit(0.0))


def entity_fuzzy_score_col(query: str, source: Column) -> Column:
    """F8 (geo_manager.py:484-489): Tversky(.85/.15) with a 15% prefix boost."""
    grams = ngrams_col(source)
    base = tversky_index_col(query, grams, source != F.lit(""))
    return F.when(source.startswith(F.lit(query)), base * 1.15).otherwise(base)


def tversky_compare(options: DataFrame, search: str,
                    option_col: str = "option") -> DataFrame:
    """F3 (fuzzy.py:34-35): score a search string against a relation of
    option strings with symmetric weights (a=b=0.5, Dice-like). The
    reference takes a Python list; the scalable form scores a column."""
    src = F.col(option_col)
    score = tversky_index_col(search, ngrams_col(src), src != F.lit(""),
                              a=0.5, b=0.5)
    return options.select(src.alias(option_col),
                          F.round(score, 6).alias("score"))


def geo_search_score_col(query: str, source: Column, population: Column) -> Column:
    """F9 (geo_manager.py:491-501): numeric queries score against the first
    space-token only (zip-code mode); population-weighted unless the fuzzy
    score is weak or population non-positive."""
    target = (
        F.element_at(F.split(source, " "), 1) if query.isnumeric() else source
    )
    fuzzy = entity_fuzzy_score_col(query, target)
    # absent population counts as 0 (reference .get("population", 0),
    # geo_manager.py:570, 602) — a NULL must not null out the whole score
    pop = F.coalesce(population, F.lit(0))
    return F.when(
        (pop <= 0) | (fuzzy <= 0.65), fuzzy * 0.9
    ).otherwise(fuzzy * 0.9 + F.log(pop.cast("double")) * 0.1)


# --------------------------------------------------------------------------
# F4: Damerau-Levenshtein (a driver-side payload, computed on the collected
# top-k rows only)
# --------------------------------------------------------------------------

def _damerau_levenshtein(s1: str, s2: str) -> int:
    """Unrestricted Damerau-Levenshtein (Lowrance-Wagner), matching the
    jellyfish function the reference uses (geo_manager.py:8, 28-32)."""
    if s1 == s2:
        return 0
    len1, len2 = len(s1), len(s2)
    if not len1:
        return len2
    if not len2:
        return len1
    inf = len1 + len2
    da: dict[str, int] = {}
    d = [[0] * (len2 + 2) for _ in range(len1 + 2)]
    d[0][0] = inf
    for i in range(len1 + 1):
        d[i + 1][0] = inf
        d[i + 1][1] = i
    for j in range(len2 + 1):
        d[0][j + 1] = inf
        d[1][j + 1] = j
    for i in range(1, len1 + 1):
        db = 0
        for j in range(1, len2 + 1):
            i1 = da.get(s2[j - 1], 0)
            j1 = db
            if s1[i - 1] == s2[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,            # substitution
                d[i + 1][j] + 1,           # insertion
                d[i][j + 1] + 1,           # deletion
                d[i1][j1] + (i - i1 - 1) + 1 + (j - j1 - 1),  # transposition
            )
        da[s1[i - 1]] = i
    return d[len1 + 1][len2 + 1]


def geo_damerau_distance_py(val1: str, val2: str) -> int:
    """F4 (geo_manager.py:28-32): min of first-comma-token DL and full DL."""
    return min(
        _damerau_levenshtein(val1.split(",")[0], val2.split(",")[0]),
        _damerau_levenshtein(val1, val2),
    )


def result_distance(search_entity: str, clean_value: str | None) -> int:
    """The `distance` payload of one collected fuzzy result: F4 of the
    cleaned query against the row's clean_value (a NULL scores as "")."""
    return geo_damerau_distance_py(clean_entity(search_entity), clean_value or "")


# --------------------------------------------------------------------------
# F10: postings (the inverted index as a derived table)
# --------------------------------------------------------------------------

def build_postings(shapes: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Derive `postings(ngram, entity_id, *extra)` from shapes (reference
    ships this precomputed as JSON, geo_manager.py:644; built by add_entity
    at :468-476). Duplicate trigram occurrences are kept — they contribute
    to candidate counts. At scale: write bucketed by ngram (geo.ingest);
    pass a partition column in `extra_cols` to make the postings table
    partition-scopable (F14)."""
    return shapes.select(
        F.explode(ngrams_col(F.col("clean_value"))).alias("ngram"),
        F.col("id").alias("entity_id"),
        *[F.col(c).alias(c.replace(".", "_")) for c in extra_cols],
    )


# --------------------------------------------------------------------------
# F12/F13: the pipeline
# --------------------------------------------------------------------------

def fuzzy_search(
    shapes: DataFrame,
    search_entity: str,
    num_results: int = 50,
    filters: dict | None = None,
    postings: DataFrame | None = None,
    partition: tuple[str, object] | None = None,
) -> DataFrame:
    """F12 (geo_manager.py:525-619). Returns the top `num_results` scored
    matches: columns (id, value, clean_value, ngram_similarity, score,
    extra), where `extra` is the matched shape row as a struct (the
    reference's payload, geo_manager.py:573/605). The `distance` payload
    is `result_distance` of each collected row.

    `postings` may be a pre-materialized bucketed table; by default it is
    derived on the fly (Catalyst fuses the explode into the scan).

    `partition` = (column, value) is F14 (reference geo_manager.py:544-580):
    the search runs against the partition's SUB-INDEX — shapes AND postings
    are restricted BEFORE candidate generation, so candidate counts and the
    top-500 cap are partition-local (unlike `filters`, which apply after the
    cap, geo_manager.py:578-580 vs :556). On a layout written partitionBy
    the filter is directory-level partition pruning; a pre-materialized
    `postings` table is rebuilt from the filtered shapes unless it carries
    the partition column itself."""
    query = clean_entity(search_entity)
    q_grams = sorted(set(ngrams_list(query)))
    cap = max(num_results, CANDIDATE_FLOOR)

    if partition is not None:
        part_col, part_val = partition
        shapes = shapes.filter(F.col(part_col) == F.lit(part_val))
        flat = part_col.replace(".", "_")  # build_postings flattens dotted paths
        if postings is not None and flat in postings.columns:
            postings = postings.filter(F.col(flat) == F.lit(part_val))
        else:
            postings = None  # rebuild below from the partition's shapes
    if postings is None:
        postings = build_postings(shapes)

    # no trigrams → empty probe → no candidates (reference: Counter of []);
    # Catalyst folds the empty IN list and prunes the plan to an empty relation
    candidates = (
        postings.filter(F.col("ngram").isin(q_grams))
        .groupBy("entity_id")
        .agg(F.count("*").alias("gram_hits"))
        .orderBy(F.desc("gram_hits"), F.asc("entity_id"))
        .limit(cap)
    )

    scored = (
        shapes.join(F.broadcast(candidates), shapes["id"] == candidates["entity_id"])
        .filter(shape_filters_predicate(filters))
        .select(
            "id", "value", "clean_value",
            entity_fuzzy_score_col(query, F.col("clean_value")).alias(
                "ngram_similarity"
            ),
            geo_search_score_col(
                query, F.col("clean_value"), F.col("population")
            ).alias("score"),
            F.struct(*[F.col(c) for c in shapes.columns]).alias("extra"),
        )
    )

    # dedupe by clean_value (reference dict-comprehension keyed on clean_value,
    # geo_manager.py:587-612) with a deterministic winner: best score, then id.
    # Ordering keys use the score rounded to 6dp so rankings are stable across
    # engines/libm implementations (raw fp near-ties are unspecified in the
    # reference anyway).
    from pyspark.sql import Window

    order_key = F.round(F.col("score"), 6)
    w = Window.partitionBy("clean_value").orderBy(order_key.desc(), F.asc("id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .orderBy(order_key.desc(), F.asc("id"))
        .limit(num_results)
    )


def best_fuzzy_search(
    shapes: DataFrame,
    search_entity: str,
    score_threshold: float = 0.90,
    filters: dict | None = None,
    postings: DataFrame | None = None,
    partition: tuple[str, object] | None = None,
) -> DataFrame:
    """F13 (geo_manager.py:503-523): top-1 above threshold, else empty."""
    return fuzzy_search(
        shapes, search_entity, num_results=1, filters=filters,
        postings=postings, partition=partition,
    ).filter(F.col("score") >= F.lit(score_threshold))


def tversky_join_col(q_grams_distinct: Column, source: Column,
                     a: float = 0.85, b: float = 0.15) -> Column:
    """Column-vs-column Tversky — the join form of tversky_index_col
    (which takes the query as a Python literal): distinct query grams
    against the source's trigrams, same weights, same empty/zero
    guards. Needed when the 'query' is a COLUMN of a probe table."""
    s_grams = ngrams_col(source)
    inter = F.size(F.array_intersect(q_grams_distinct, s_grams)).cast("double")
    v1 = F.size(q_grams_distinct).cast("double") - inter
    v2 = F.size(F.array_distinct(s_grams)).cast("double") - inter
    score = inter / (inter + F.lit(a) * v1 + F.lit(b) * v2)
    return F.when(
        (F.length(source) > 0) & (inter > 0), score
    ).otherwise(F.lit(0.0))


def fuzzy_join(
    shapes: DataFrame,
    probes: DataFrame,
    probe_id_col: str = "probe_id",
    probe_col: str = "probe_value",
    num_results: int = 1,
    candidate_cap: int = 50,
    threshold: float = 0.0,
    postings: DataFrame | None = None,
    max_gram_df: float | None = 0.1,
) -> DataFrame:
    """Batch entity resolution: match EVERY probe row against the
    trigram index in ONE job — the join generalization of fuzzy_search
    (the reference answers one query per call, geo_manager.py:525-619;
    a production pipeline resolves a whole dirty-name table per day).
    Returns (probe_id, probe_clean, id, value, clean_value, similarity,
    rank) for the per-probe top `num_results` above `threshold`.

    Stage shape — every step an equi-join or key-LOCAL window:
    explode probe grams (duplicates preserved: multiplicity drives the
    candidate count exactly like the single-query DAG) → equi-join the
    postings on gram → count per (probe, entity) → per-PROBE candidate
    cap via a probe-local row_number (never a global sort) → join
    shapes once for scoring → column-column Tversky + prefix boost →
    per-probe top-k. Candidate generation is the only corpus-sized
    shuffle; scoring touches at most candidate_cap rows per probe.

    ``max_gram_df`` prunes HIGH-DOCUMENT-FREQUENCY grams from the
    candidate join: a gram present in more than that fraction of
    entities (distinct-entity df over the postings) is dropped from
    the probe side via a broadcast anti-join before the postings
    probe. Stopword-grams (`the `, ` st `) dominate posting lists at
    corpus scale — their candidates are mostly noise the per-probe cap
    would evict anyway, but each still costs df postings rows through
    the candidate shuffle PER PROBE OCCURRENCE; the Zipf tail means
    the drop list itself stays tiny (broadcast-safe at any corpus
    size). Candidate RECALL is affected only for probes whose every
    gram is corpus-common (they lose all candidates — by construction
    nothing individuates them anyway); scoring of surviving candidates
    is unchanged (the exact Tversky uses the full gram sets, not the
    pruned join). Measured on the stopword-saturated fixture
    (tests/test_fuzzy_join_prune.py): 130× candidate-row reduction
    (20,760 → 160) at df-cap 0.1 with identical top-1 output. Pass
    ``None`` to disable.
    """
    from pyspark.sql import Window

    cleaned = probes.select(
        F.col(probe_id_col),
        clean_entity_col(F.col(probe_col)).alias("probe_clean"),
    )
    postings_supplied = postings is not None
    if postings is None:
        postings = build_postings(shapes)
    q_ex = cleaned.select(
        probe_id_col,
        F.explode(ngrams_col(F.col("probe_clean"))).alias("ngram"),
    )
    if max_gram_df is not None:
        # bounded collect: ONE scalar (the corpus size), same contract
        # as semdedup's auto-k count — resolving the df cap to a
        # literal keeps the drop-list subtree a plain aggregate+filter
        # (a one-row broadcast join here plans as
        # BroadcastNestedLoopJoin, which the fuzzy_join plan guard
        # forbids wholesale; Catalyst folds any constant equi-key back
        # into one). The df FRACTION must be over the population the
        # postings actually index: a caller-supplied index can cover
        # more entities than `shapes`, and dividing by shapes.count()
        # would then over-prune — silent candidate recall loss
        # (ADVICE r12) — so derive N from the postings themselves in
        # that case.
        if postings_supplied:
            n_entities = (
                postings.select("entity_id").distinct().count()
            )
        else:
            n_entities = shapes.count()
        hot = (
            postings.groupBy("ngram")
            .agg(F.count_distinct("entity_id").alias("_df"))
            .filter(
                F.col("_df").cast("double")
                > F.lit(float(max_gram_df) * n_entities)
            )
            .select("ngram")
        )
        q_ex = q_ex.join(F.broadcast(hot), "ngram", "left_anti")
    cand = (
        q_ex.join(postings, "ngram")
        .groupBy(probe_id_col, "entity_id")
        .agg(F.count(F.lit(1)).alias("gram_hits"))
    )
    w_cap = Window.partitionBy(probe_id_col).orderBy(
        F.desc("gram_hits"), F.asc("entity_id")
    )
    capped = (
        cand.withColumn("_rn", F.row_number().over(w_cap))
        .filter(F.col("_rn") <= candidate_cap)
        .drop("_rn", "gram_hits")
    )
    qd = F.array_distinct(ngrams_col(F.col("probe_clean")))
    scored = (
        capped.join(cleaned, probe_id_col)
        .join(
            shapes.select("id", "value", "clean_value"),
            F.col("entity_id") == F.col("id"),
        )
        .withColumn(
            "similarity",
            F.round(
                F.when(
                    F.col("clean_value").startswith(F.col("probe_clean")),
                    tversky_join_col(qd, F.col("clean_value")) * 1.15,
                ).otherwise(tversky_join_col(qd, F.col("clean_value"))),
                6,
            ),
        )
        .filter(F.col("similarity") > threshold)
    )
    w_out = Window.partitionBy(probe_id_col).orderBy(
        F.desc("similarity"), F.asc("id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_out))
        .filter(F.col("rank") <= num_results)
        .select(
            probe_id_col, "probe_clean", "id", "value", "clean_value",
            "similarity", "rank",
        )
    )
