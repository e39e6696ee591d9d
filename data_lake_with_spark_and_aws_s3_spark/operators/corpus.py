"""Round-3 corpus-construction operators — the three big text-pipeline
algorithms a 100 TB training-data build needs beyond near-dup filtering:

  - q_bpe_train          distributed BPE tokenizer training (the
                         pair-count/merge loop, vocabulary-sized state)
  - q_duplicate_span_scrub  exact-substring deduplication at n-gram
                         granularity (Lee et al. 2022 "Deduplicating
                         Training Data" style): duplicated spans are
                         REMOVED from later occurrences, not whole docs
  - q_contamination_report  per-benchmark train/eval overlap audit —
                         the report card behind q_decontaminate's filter

All three are oracle-checked exactly (chained-CTE oracles for the
iterative BPE loop, window/exists SQL for the scrub), and all keep the
Python driver out of the data path: the only collect() in the module is
BPE's one (left,right) pair per merge round — the same O(1)-per-round
driver state as q_kmeans_lloyd's centroids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.textops import ngram_join, shingle_set, tokens, words
from ..registry import query
from ..sources.loader import fan_out, load_table
from ._sqlutil import _hex_val_sql

# ---------------------------------------------------------------------
# Distributed BPE tokenizer training
# ---------------------------------------------------------------------

_BPE_ROUNDS = 4


def _char_split(word: Column) -> Column:
    """1-char symbol array (word.substr is 1-indexed, like the
    oracle's substring(word, i, 1))."""
    return F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: word.substr(i, F.lit(1)),
    )


def _pair_structs(sym: Column) -> Column:
    """Adjacent symbol pairs [(s[i], s[i+1])] — empty for 1-symbol
    words (sequence(1,0) would count DOWN in Spark, so guard)."""
    n = F.size(sym)
    idx = F.when(n > 1, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.struct(
            F.get(sym, i - 1).alias("lhs"), F.get(sym, i).alias("rhs")
        ),
    )


def _merge_starts(sym: Column, lhs: str, rhs: str) -> Column:
    """Greedy left-to-right BPE merge positions as a zero-shuffle HOF
    fold: scan pair positions ascending, take a match only if its left
    symbol wasn't consumed by the previous taken match. Equivalent to
    the oracle's gaps-and-islands parity rule (within a run of
    consecutive matching positions, every other one merges)."""
    n = F.size(sym)
    idx = F.when(n > 1, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    init = F.struct(
        F.lit(0).alias("last"), F.array().cast("array<int>").alias("m")
    )

    def step(st: Column, i: Column) -> Column:
        hit = (
            (F.get(sym, i - 1) == F.lit(lhs))
            & (F.get(sym, i) == F.lit(rhs))
            & (i > st["last"])
        )
        return F.struct(
            F.when(hit, i + 1).otherwise(st["last"]).alias("last"),
            F.when(hit, F.concat(st["m"], F.array(i))).otherwise(st["m"]).alias("m"),
        )

    return F.aggregate(idx, init, step, lambda st: st["m"])


def _apply_merge(sym: Column, starts: Column) -> Column:
    """Rebuild the symbol array: a merge-start position j becomes
    s[j]||s[j+1]; position j+1 is dropped; everything else passes
    through. Pure array transform — no shuffle."""
    return F.filter(
        F.transform(
            F.sequence(F.lit(1), F.size(sym)),
            lambda j: F.when(
                F.array_contains(starts, j),
                F.concat(F.get(sym, j - 1), F.get(sym, j)),
            )
            .when(F.array_contains(starts, j - 1), F.lit(None))
            .otherwise(F.get(sym, j - 1)),
        ),
        lambda x: x.isNotNull(),
    )


def _bpe_cte_chain() -> tuple[str, str]:
    """The merge loop as chained CTEs, one block per round: pair
    counts -> deterministic top pair (count desc, lhs, rhs) -> match
    positions -> islands-of-consecutive parity (the greedy rule) ->
    rebuilt symbol lists. Returns (with_clause, final_cte_name) so
    both the train and apply oracles share the chain."""
    sql = """
    WITH toks AS (
      SELECT t.tok FROM (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      ) t WHERE t.tok <> ''
    ),
    w AS (SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
    s0 AS (
      SELECT word, cnt,
             list_transform(generate_series(1, length(word)),
                            i -> substring(word, i, 1)) AS sym
      FROM w
    )"""
    prev = "s0"
    for r in range(1, _BPE_ROUNDS + 1):
        sql += f"""
    , px{r} AS (
      SELECT word, cnt, sym,
             unnest(generate_series(1, len(sym) - 1)) AS i
      FROM {prev}
    ), p{r} AS (
      SELECT sym[i] AS lhs, sym[i + 1] AS rhs, SUM(cnt) AS total
      FROM px{r} GROUP BY 1, 2
    ), t{r} AS (
      SELECT lhs, rhs, total FROM p{r} ORDER BY total DESC, lhs, rhs LIMIT 1
    ), mp{r} AS (
      SELECT s.word, s.i
      FROM px{r} AS s, t{r} AS t
      WHERE s.sym[s.i] = t.lhs AND s.sym[s.i + 1] = t.rhs
    ), st{r} AS (
      SELECT word, i FROM (
        SELECT word, i, ROW_NUMBER() OVER (PARTITION BY word, grp ORDER BY i) AS rn
        FROM (
          SELECT word, i,
                 i - ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS grp
          FROM mp{r}
        )
      ) WHERE rn % 2 = 1
    ), pos{r} AS (
      SELECT word, cnt, sym,
             unnest(generate_series(1, len(sym))) AS j
      FROM {prev}
    ), s{r} AS (
      SELECT word, ANY_VALUE(cnt) AS cnt,
             list(CASE WHEN is_start THEN sym_j || sym_j1 ELSE sym_j END
                  ORDER BY j) AS sym
      FROM (
        SELECT p.word, p.cnt, p.j, p.sym[p.j] AS sym_j, p.sym[p.j + 1] AS sym_j1,
               EXISTS (SELECT 1 FROM st{r} a
                       WHERE a.word = p.word AND a.i = p.j) AS is_start,
               EXISTS (SELECT 1 FROM st{r} b
                       WHERE b.word = p.word AND b.i = p.j - 1) AS after_start
        FROM pos{r} AS p
      ) WHERE NOT after_start
      GROUP BY word
    )"""
        prev = f"s{r}"
    return sql, prev


def _bpe_train_oracle() -> str:
    chain, last = _bpe_cte_chain()
    return f"""{chain}
    SELECT word, cnt, CAST(len(sym) AS BIGINT) AS n_syms,
           array_to_string(sym, ' ') AS segmented
    FROM {last}
    """


def _bpe_apply_oracle() -> str:
    chain, last = _bpe_cte_chain()
    return f"""{chain}
    , seg AS (SELECT word, len(sym) AS n_syms FROM {last})
    SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(seg.n_syms) AS BIGINT) AS n_bpe_tokens
    FROM (
      SELECT doc_id, t.tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ) t WHERE t.tok <> ''
    ) AS d
    JOIN seg ON seg.word = d.tok
    GROUP BY d.doc_id
    """


def _bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the merge loop; returns (word, cnt, sym) after _BPE_ROUNDS
    greedy merges. Shared by the train and apply queries."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens()).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cur = words.select(
        "word", "cnt", _char_split(F.col("word")).alias("sym")
    ).localCheckpoint(eager=True)

    for _ in range(_BPE_ROUNDS):
        pairs = (
            cur.select("cnt", F.explode(_pair_structs(F.col("sym"))).alias("p"))
            .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
            .agg(F.sum("cnt").alias("total"))
        )
        top = pairs.orderBy(F.desc("total"), "lhs", "rhs").limit(1).collect()[0]
        starts = _merge_starts(F.col("sym"), top.lhs, top.rhs)
        cur = cur.select(
            "word", "cnt", _apply_merge(F.col("sym"), starts).alias("sym")
        ).localCheckpoint(eager=True)
    return cur


@query(
    "q_bpe_train",
    oracle=_bpe_train_oracle(),
    tags=("llm-pipeline", "tokenizer", "bpe", "iterative"),
)
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training — the algorithm behind every
    modern LLM vocabulary, in its natural Spark shape. The corpus
    collapses to a (word, count) table FIRST (one aggregate — at 100 TB
    this is the only pass that touches the raw text; everything after
    runs on vocabulary-sized data). Each merge round is then:

      1. adjacent-pair counts, weighted by word frequency — a HOF
         explode + one hash aggregate over |vocab| rows;
      2. the argmax pair pulled to the driver (ONE row per round, the
         q_kmeans_lloyd centroid pattern — deterministic tie-break on
         (count desc, lhs, rhs));
      3. greedy left-to-right merge applied as a zero-shuffle array
         fold (F.aggregate) + rebuild (F.transform/filter) — all
         codegen, no Python in the data path.

    Returns the final per-word segmentation after 4 merges (plus the
    surviving symbol count); the oracle replays the identical loop as
    chained CTEs, with the greedy scan expressed as the equivalent
    gaps-and-islands parity rule. Greedy semantics pinned by both:
    in a run of k consecutive matching pair positions (e.g. 'aaaa'
    with top pair (a,a)), positions 1,3,... merge and 2,4,... are
    consumed — a left fold here, ROW_NUMBER parity there.

    Scale: pair-count state is O(|symbol vocab|^2) worst case but
    ~O(observed pairs) in practice; per-round shuffle is bounded by
    |vocab|, never corpus size. Driver state: one pair per round."""
    return _bpe_segment(spark, sf_dir).select(
        "word",
        "cnt",
        F.size("sym").cast("long").alias("n_syms"),
        F.concat_ws(" ", F.col("sym")).alias("segmented"),
    )


@query(
    "q_bpe_apply",
    oracle=_bpe_apply_oracle(),
    tags=("llm-pipeline", "tokenizer", "bpe"),
)
def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY — the production counterpart of q_bpe_train:
    the trained segmentation becomes a (word -> subword count)
    dictionary that BROADCASTS to every task; tokenizing the corpus is
    then a map-side explode + equi-join + one per-doc aggregate. This
    is the shape of every "count tokens per document" pass at 100 TB:
    the corpus is scanned once and never shuffled by word — only the
    (doc_id) aggregate moves data, and it partial-aggregates map-side.

    Every corpus token hits the dictionary by construction (the vocab
    was built from the same corpus), so the join is total; unseen-word
    handling in a real pipeline is a left join + per-character
    fallback, same plan shape. Returns per-doc word and BPE-token
    counts; the oracle replays training and re-counts via the same
    join."""
    seg = _bpe_segment(spark, sf_dir).select(
        "word", F.size("sym").alias("n_syms")
    )
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens()).alias("word")).filter(
        F.col("word") != ""
    )
    return (
        toks.join(F.broadcast(seg), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").cast("long").alias("n_bpe_tokens"),
        )
    )


# ---------------------------------------------------------------------
# Exact-substring (duplicate-span) scrubbing
# ---------------------------------------------------------------------

_SPAN_N = 8  # n-gram granularity of the duplicated-span detector


@query(
    "q_duplicate_span_scrub",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    occ AS (
      SELECT doc_id, i AS pos,
             array_to_string(list_slice(toks, i, i + {_SPAN_N - 1}), ' ') AS gram
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - {_SPAN_N - 1})) AS i
        FROM t
      )
    ),
    dup AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
        FROM occ
      ) WHERE rn > 1
    ),
    rm AS (
      SELECT DISTINCT doc_id, pos FROM (
        SELECT doc_id,
               unnest(generate_series(pos, pos + {_SPAN_N - 1})) AS pos
        FROM dup
      )
    ),
    kept AS (
      SELECT doc_id, pos, tok FROM (
        SELECT doc_id, toks[j] AS tok, j AS pos FROM (
          SELECT doc_id, toks,
                 unnest(generate_series(1, len(toks))) AS j
          FROM t
        )
      ) AS k
      WHERE NOT EXISTS (
        SELECT 1 FROM rm WHERE rm.doc_id = k.doc_id AND rm.pos = k.pos
      )
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS scrubbed
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(len(t.toks) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(a.scrubbed, '') AS scrubbed_text
    FROM t LEFT JOIN agg AS a USING (doc_id)
    """,
    tags=("llm-pipeline", "dedup", "exact-substring"),
)
def q_duplicate_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring deduplication at {n}-gram granularity — the
    span-level counterpart of document-level dedup (Lee et al. 2022:
    removing repeated SPANS beats dropping whole documents). Every
    {n}-token window that occurs more than once in the corpus keeps
    its globally-first occurrence (ordered by doc_id, pos); every
    later occurrence marks its {n} token positions for removal; docs
    are reassembled from the surviving tokens.

    Plan: gram generation is a map-side array transform (slice over
    the token array — no self-join); the first-occurrence decision is
    ONE aggregate keyed by gram (min(struct(doc_id,pos)) partial-
    aggregates map-side, so a viral gram — the skew case — collapses
    to one row per map task before the shuffle); removal positions
    explode from dup occurrences only; the rebuild is an anti-join on
    (doc_id, pos) plus one groupBy(doc_id). Four key shuffles total,
    all linear in data size. At 100 TB swap the gram string for a
    64-bit digest to cut shuffle bytes (q_repeated_ngram_profile
    note), and suffix-array the exactness-critical slice offline.

    Greedy-mark semantics (pinned by the oracle): positions are marked
    per duplicated WINDOW, so two overlapping duplicate windows in the
    same doc mark the union of their spans; a doc that is a verbatim
    copy of an earlier one scrubs to (nearly) empty."""
    return duplicate_span_scrub(load_table(spark, sf_dir, "documents"))


def duplicate_span_scrub(d: DataFrame) -> DataFrame:
    """Core of q_duplicate_span_scrub over any (doc_id, text) frame —
    split out so invariant tests can plant adversarial corpora
    (verbatim copies, overlapping spans) without touching testdata."""
    # r8: scan fan-out + zip-form grams (identical gram strings and
    # positions; posexplode supplies pos = array index + 1)
    t = fan_out(d).select("doc_id", tokens().alias("toks"))
    grams = t.select(
        "doc_id",
        F.posexplode(ngram_join(F.col("toks"), _SPAN_N)).alias("pos0", "gram"),
    ).select("doc_id", (F.col("pos0") + 1).cast("int").alias("pos"), "gram")

    first = grams.groupBy("gram").agg(
        F.min(F.struct("doc_id", "pos")).alias("first")
    )
    dup = (
        grams.join(first, "gram")
        .filter(
            (F.col("doc_id") != F.col("first.doc_id"))
            | (F.col("pos") != F.col("first.pos"))
        )
        .select("doc_id", "pos")
    )
    rm = dup.select(
        "doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + (_SPAN_N - 1))).alias("pos")
    ).distinct()

    toks_pos = t.select(
        "doc_id", F.posexplode("toks").alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    kept = toks_pos.join(rm, ["doc_id", "pos"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("scrubbed"),
    )
    return (
        t.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            (F.size("toks") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce(F.col("scrubbed"), F.lit("")).alias("scrubbed_text"),
        )
    )


q_duplicate_span_scrub.__doc__ = q_duplicate_span_scrub.__doc__.format(n=_SPAN_N)


# ---------------------------------------------------------------------
# Per-benchmark contamination report
# ---------------------------------------------------------------------

_CONTAM_N = 8  # n-gram size, matching q_decontaminate's detector
_BENCHMARKS = ((101, "bench_a"), (97, "bench_b"), (89, "bench_c"))
_BENCH_CASE = " ".join(
    f"WHEN doc_id % {m} = 0 THEN '{name}'" for m, name in _BENCHMARKS
)


@query(
    "q_contamination_report",
    oracle=f"""
    WITH tagged AS (
      SELECT doc_id, text,
             CASE {_BENCH_CASE} ELSE NULL END AS benchmark
      FROM documents
    ),
    grams AS (
      SELECT doc_id, benchmark,
             array_to_string(list_slice(toks, i, i + {_CONTAM_N - 1}), ' ') AS gram
      FROM (
        SELECT doc_id, benchmark, toks,
               unnest(generate_series(1, len(toks) - {_CONTAM_N - 1})) AS i
        FROM (
          SELECT doc_id, benchmark,
                 list_filter(string_split(text, ' '), x -> x <> '') AS toks
          FROM tagged
        )
      )
    ),
    eval_grams AS (
      SELECT DISTINCT benchmark, gram FROM grams WHERE benchmark IS NOT NULL
    ),
    train AS (SELECT DISTINCT doc_id, gram FROM grams WHERE benchmark IS NULL),
    hits AS (
      SELECT e.benchmark, t.doc_id, t.gram
      FROM train AS t JOIN eval_grams AS e USING (gram)
    ),
    n_train AS (
      SELECT COUNT(DISTINCT doc_id) AS n FROM tagged WHERE benchmark IS NULL
    )
    SELECT e.benchmark,
           CAST(COUNT(DISTINCT e.gram) AS BIGINT) AS n_eval_grams,
           CAST(COUNT(DISTINCT h.gram) AS BIGINT) AS n_overlapping_grams,
           CAST(COUNT(DISTINCT h.doc_id) AS BIGINT) AS n_contaminated_docs,
           ROUND(COUNT(DISTINCT h.doc_id)
                 / CAST((SELECT n FROM n_train) AS DOUBLE), 9)
             AS frac_train_contaminated
    FROM eval_grams AS e
    LEFT JOIN hits AS h
      ON h.benchmark = e.benchmark AND h.gram = e.gram
    GROUP BY e.benchmark
    """,
    tags=("llm-pipeline", "decontamination", "audit"),
)
def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-benchmark contamination AUDIT — the report behind
    q_decontaminate's filter: for each held-out eval slice (deterministic
    doc_id residue classes standing in for benchmark suites), how many of
    its {n}-grams appear in the training split, and how many training
    docs carry at least one. This is the number a data card publishes;
    the filter is what q_decontaminate then applies.

    Plan: grams are map-side array slices; eval gram sets are tiny
    (benchmarks are small by nature) so the train⋈eval gram join
    BROADCASTS the eval side — the train corpus is never shuffled by
    gram, only scanned. Distinct-counts aggregate per benchmark.
    A doc in several residue classes tags with the first (CASE order) —
    same rule in both engines."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    bench = None
    for m, name in _BENCHMARKS:
        cond = F.col("doc_id") % m == 0
        bench = F.when(cond, F.lit(name)) if bench is None else bench.when(cond, F.lit(name))
    tagged = d.select("doc_id", tokens().alias("toks"), bench.alias("benchmark"))

    # r8: zip-form grams (identical values)
    grams = tagged.select(
        "doc_id",
        "benchmark",
        F.explode(ngram_join(F.col("toks"), _CONTAM_N)).alias("gram"),
    )
    eval_grams = (
        grams.filter(F.col("benchmark").isNotNull())
        .select("benchmark", "gram")
        .distinct()
    )
    train = (
        grams.filter(F.col("benchmark").isNull()).select("doc_id", "gram").distinct()
    )
    hits = train.join(F.broadcast(eval_grams), "gram").select(
        "benchmark", "doc_id", "gram"
    )
    n_train = tagged.filter(F.col("benchmark").isNull()).count()
    report = (
        eval_grams.groupBy("benchmark")
        .agg(F.countDistinct("gram").alias("n_eval_grams"))
        .join(
            hits.groupBy("benchmark").agg(
                F.countDistinct("gram").alias("n_overlapping_grams"),
                F.countDistinct("doc_id").alias("n_contaminated_docs"),
            ),
            "benchmark",
            "left",
        )
        .select(
            "benchmark",
            "n_eval_grams",
            F.coalesce("n_overlapping_grams", F.lit(0)).alias("n_overlapping_grams"),
            F.coalesce("n_contaminated_docs", F.lit(0)).alias("n_contaminated_docs"),
            F.round(
                F.coalesce("n_contaminated_docs", F.lit(0)) / F.lit(float(n_train)), 9
            ).alias("frac_train_contaminated"),
        )
    )
    return report


def _neardup_decon_oracle() -> str:
    from .neardup import _ml_oracle

    return f"""
    WITH pairs AS ({_ml_oracle()})
    SELECT CASE WHEN doc_a % 7 = 0 THEN doc_b ELSE doc_a END AS train_doc_id,
           CASE WHEN doc_a % 7 = 0 THEN doc_a ELSE doc_b END AS eval_doc_id,
           jaccard_x10000
    FROM pairs
    WHERE (doc_a % 7 = 0) <> (doc_b % 7 = 0)
    """


@query(
    "q_neardup_decontaminate",
    oracle=_neardup_decon_oracle(),
    tags=("pipeline", "decontamination", "neardup", "lsh", "llm-pipeline"),
)
def q_neardup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUP decontamination: training documents that are
    MinHash-LSH near-duplicates (shingle Jaccard >= 0.5, exactly
    verified) of an eval-slice document — the leakage class exact
    n-gram decontamination (q_decontaminate) under-catches: a
    paraphrased or lightly-edited eval item shares few verbatim
    4-grams yet is the same document for memorization purposes
    (GPT-3's 13-gram rule famously missed these; modern pipelines run
    BOTH passes). Eval slice = doc_id % 7 == 0 — deliberately WIDER
    than q_decontaminate's % 97 slice: the near-dup pair universe at
    test SFs is small (~25 LSH-verified pairs at sf0.01) and a 1/97
    slice intersects it vacuously (measured: 0 cross-side pairs at
    sf0.01), so this query pins the cross-side selection logic on a
    slice dense enough to exercise it. To compose with q_decontaminate
    in production, pass ONE eval predicate to both; the mechanism is
    predicate-agnostic.

    Mechanism: reuse of the md5-portable LSH twin (_ml_exact_pairs —
    signatures, bands, candidates, exact verify all engine-replayable)
    filtered to cross-side pairs, so the whole detection pipeline sits
    under the driver's value hash.

    Scale: identical to the LSH dedup posture — O(n*bands) banded
    equi-join, no quadratic stage; at 100 TB the eval side is tiny so
    its band rows broadcast, making this a map-side probe of the
    train corpus (the q_decontaminate shape with bands instead of
    grams)."""
    from .neardup import _ml_exact_pairs

    pairs = _ml_exact_pairs(spark, sf_dir)
    a_eval = F.col("doc_a") % 7 == 0
    b_eval = F.col("doc_b") % 7 == 0
    return (
        pairs.filter(a_eval != b_eval)
        .select(
            F.when(a_eval, F.col("doc_b")).otherwise(F.col("doc_a")).alias(
                "train_doc_id"
            ),
            F.when(a_eval, F.col("doc_a")).otherwise(F.col("doc_b")).alias(
                "eval_doc_id"
            ),
            "jaccard_x10000",
        )
    )


@query(
    "q_ngram_coverage_curve",
    oracle=f"""
    WITH ts AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(0, greatest(len(toks) - 2, 0)),
               i -> array_to_string(toks[i+1:i+3], ' ')))) AS gram
      FROM ts
    ),
    ev AS (
      SELECT DISTINCT gram FROM sh WHERE doc_id % 7 = 0
    ),
    tr AS (
      SELECT gram,
             MIN(({_hex_val_sql("md5(CAST(doc_id AS VARCHAR) || '#cov')", 5)})
                 % 1000) AS min_bucket
      FROM sh WHERE doc_id % 7 <> 0
      GROUP BY gram
    ),
    fr AS (
      SELECT * FROM (VALUES (100), (300), (1000)) t(fraction_pm)
    )
    SELECT fr.fraction_pm,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM ev) AS eval_gram_types,
           CAST(COUNT(tr.gram) AS BIGINT) AS covered_types,
           CAST(CASE WHEN (SELECT COUNT(*) FROM ev) = 0 THEN 0
                ELSE (1000000 * COUNT(tr.gram))
                     // (SELECT COUNT(*) FROM ev) END AS BIGINT)
             AS coverage_ppm
    FROM fr
    CROSS JOIN ev
    LEFT JOIN tr ON tr.gram = ev.gram AND tr.min_bucket < fr.fraction_pm
    GROUP BY fr.fraction_pm
    """,
    tags=("pipeline", "curation", "coverage", "ngram", "scaling-curve"),
)
def q_ngram_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set n-gram coverage as a function of training-corpus size —
    the data-scaling diagnostic behind "will more data still help":
    for deterministic 10% / 30% / 100% train subsets (md5 per-mille
    bucket on doc_id, the q_hash_split convention), what fraction of
    the eval slice's distinct 3-gram types appears in the subset. The
    key trick is computing each gram's MINIMUM train bucket once —
    a gram is covered at threshold f iff min_bucket < f — so the
    curve costs ONE pass over train grams regardless of how many
    curve points are requested; the eval slice is doc_id % 7 == 0
    (q_neardup_decontaminate's convention).

    Scale: one explode + two gram-keyed aggregates (min-bucket and
    eval-distinct); the curve join is |eval gram types| x 3 constant
    fractions with the min-bucket table keyed by gram — the 3-row
    fraction grid is the only non-equi side and it is broadcast-sized.
    Never rescans the corpus per curve point."""
    # r8: scan fan-out + zip-form grams (identical values)
    d = fan_out(load_table(spark, sf_dir, "documents"))
    tk = d.select("doc_id", words().alias("tk"))
    grams = shingle_set(F.col("tk"), 3)
    sh = tk.select("doc_id", F.explode(grams).alias("gram"))
    ev = sh.filter(F.col("doc_id") % 7 == 0).select("gram").distinct()
    bucket = (
        "(("
        + _hex_val_sql("md5(concat(cast(doc_id as string), '#cov'))", 5)
        + ") % 1000)"
    )
    tr = (
        sh.filter(F.col("doc_id") % 7 != 0)
        .select(F.col("gram").alias("tgram"), F.expr(bucket).alias("bucket"))
        .groupBy("tgram")
        .agg(F.min("bucket").alias("min_bucket"))
    )
    fr = spark.createDataFrame([(100,), (300,), (1000,)], "fraction_pm int")
    ev_n = ev.agg(F.count(F.lit(1)).alias("eval_gram_types"))
    # left join on gram + threshold: equi on gram, residual on bucket
    curve = (
        fr.crossJoin(ev.withColumnRenamed("gram", "egram"))
        .join(
            tr,
            (F.col("egram") == F.col("tgram"))
            & (F.col("min_bucket") < F.col("fraction_pm")),
            "left",
        )
        .groupBy("fraction_pm")
        .agg(F.count("tgram").alias("covered_types"))
    )
    return curve.join(F.broadcast(ev_n)).select(
        "fraction_pm",
        "eval_gram_types",
        "covered_types",
        F.expr(
            "CAST(CASE WHEN eval_gram_types = 0 THEN 0"
            " ELSE (1000000 * covered_types) div eval_gram_types END"
            " AS BIGINT)"
        ).alias("coverage_ppm"),
    )


# ---------------------------------------------------------------------
# q_winnowing_fingerprint (round 7)
# ---------------------------------------------------------------------

_WIN_K = 4  # token k-gram grain (matches the repo's shingle size)
_WIN_W = 4  # winnowing window: guarantee a fingerprint every w grams


@query(
    "q_winnowing_fingerprint",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             md5(concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3])) AS h
      FROM (
        SELECT doc_id, t,
               unnest(generate_series(1, len(t) - {_WIN_K - 1})) AS i
        FROM toks WHERE len(t) >= {_WIN_K}
      )
    ),
    sel AS (
      SELECT doc_id, pos, h,
             h = MIN(h) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN {_WIN_W - 1} PRECEDING AND CURRENT ROW)
               AS selected
      FROM grams
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CAST(selected AS INTEGER)) AS BIGINT) AS n_selected,
           CAST(COUNT(DISTINCT CASE WHEN selected THEN h END) AS BIGINT)
             AS n_distinct_fp,
           CAST((1000000 * SUM(CAST(selected AS INTEGER))) // COUNT(*)
                AS BIGINT) AS density_ppm
    FROM sel GROUP BY doc_id
    """,
    tags=("corpus", "winnowing", "fingerprint", "llm-pipeline"),
)
def q_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS selection rule in its local-minimum form): hash every
    token {_WIN_K}-gram, then select position p iff its digest is the
    minimum of the trailing window of {_WIN_W} digests — guaranteeing
    at least one fingerprint per window while keeping expected density
    near 2/(w+1), position-robust under edits (an insertion only
    perturbs selections inside w positions of it). Emits the per-doc
    fingerprint profile: gram count, selected count, distinct selected
    digests, density. The overlap-detection primitive plagiarism /
    clone scanners build pair indexes from; ties select every minimal
    position (deterministic on both engines, no rightmost-tie rule
    needed).

    Exactness: md5 digests compare as strings identically everywhere;
    counts and the density ppm division are exact integers.

    Scale: grams explode map-side; the min-window is PARTITIONED by
    doc (parallel across docs, frame w rows); one per-doc aggregate.
    The cross-doc pair index this feeds is a fingerprint-keyed join —
    posting-bounded, like q_minhash_containment's verify stage."""
    # r8: scan fan-out + zip-form grams (loader.fan_out /
    # textops.ngram_join — identical gram strings and positions,
    # parallel and per-row-cheaper construction).
    d = fan_out(load_table(spark, sf_dir, "documents"))
    tk = d.select("doc_id", tokens().alias("tk"))
    grams_arr = F.transform(ngram_join(F.col("tk"), _WIN_K), lambda g: F.md5(g))
    grams = tk.select(
        "doc_id", F.posexplode(grams_arr).alias("pos0", "h")
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "h")
    w_min = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(_WIN_W - 1), 0)
    )
    sel = grams.select(
        "doc_id",
        "pos",
        "h",
        (F.col("h") == F.min("h").over(w_min)).alias("selected"),
    )
    return sel.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.col("selected").cast("int")).alias("n_selected"),
        F.countDistinct(F.when(F.col("selected"), F.col("h"))).alias(
            "n_distinct_fp"
        ),
        F.expr(
            "CAST((1000000 * SUM(CAST(selected AS INT))) div COUNT(*)"
            " AS BIGINT)"
        ).alias("density_ppm"),
    )


# ---------------------------------------------------------------------
# q_doc_perplexity_filter (round 7)
# ---------------------------------------------------------------------

_PPL_MARGIN_MICRO = 100_000  # flag docs 0.1 nats/token above corpus CE


def _unigram_doc_ce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus-trained add-one
    unigram LM, in exact integer micro-nats — the shared midframe of
    q_doc_perplexity_filter and q_ccnet_perplexity_buckets (r8).
    Returns (doc_id, n_toks, nll_sum_micro, ce_micro).

    Round 8 note (measured REJECTION): a pinned (doc, term) count
    table replacing tok's two consumers was built and measured —
    0.9 s -> 2.4 s at sf0.1, and scan fan-out alone 0.9 s -> 1.1 s
    (see _bm25_doc_scores' docstring: pins serialize the DAG, and
    fan-out multiplies partial-aggregate key copies). Original shape
    kept."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(words()).alias("term")
    ).filter(F.col("term") != "")
    vocab = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    tot = vocab.agg(
        F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("v_size")
    )
    lp = vocab.crossJoin(F.broadcast(tot)).select(
        "term",
        F.round(
            -F.log(
                (F.col("c").cast("double") + F.lit(1.0))
                / (
                    F.col("n_total").cast("double")
                    + F.col("v_size").cast("double")
                )
            )
            * F.lit(1_000_000)
        )
        .cast("long")
        .alias("nll_micro"),
    )
    return (
        tok.join(lp, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("nll_micro").alias("nll_sum_micro"),
            F.expr("CAST(SUM(nll_micro) div COUNT(*) AS BIGINT)").alias(
                "ce_micro"
            ),
        )
    )


@query(
    "q_doc_perplexity_filter",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, t AS term
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
            FROM documents)
      WHERE t <> ''
    ),
    vocab AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY term
    ),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n_total,
             CAST(COUNT(*) AS BIGINT) AS v_size
      FROM vocab
    ),
    lp AS (
      SELECT term,
             CAST(ROUND(-ln((CAST(c AS DOUBLE) + 1.0)
                            / (CAST(tot.n_total AS DOUBLE)
                               + CAST(tot.v_size AS DOUBLE))) * 1000000)
                  AS BIGINT) AS nll_micro
      FROM vocab, tot
    ),
    doc AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_toks,
             CAST(SUM(lp.nll_micro) AS BIGINT) AS nll_sum_micro,
             CAST(SUM(lp.nll_micro) // COUNT(*) AS BIGINT) AS ce_micro
      FROM tok t JOIN lp USING (term)
      GROUP BY t.doc_id
    ),
    corpus AS (
      SELECT CAST(SUM(nll_sum_micro) // SUM(n_toks) AS BIGINT)
               AS corpus_ce_micro
      FROM doc
    )
    SELECT d.doc_id, d.n_toks, d.nll_sum_micro, d.ce_micro,
           c.corpus_ce_micro,
           d.ce_micro > c.corpus_ce_micro + {_PPL_MARGIN_MICRO} AS flagged
    FROM doc d, corpus c
    """,
    tags=("corpus", "perplexity", "quality-filter", "llm-pipeline"),
)
def q_doc_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under an add-one-smoothed UNIGRAM
    language model trained on the corpus itself, flagged when a doc
    runs 0.1 nats/token above the CORPUS-LEVEL cross-entropy (a
    relative threshold, so the gate stays meaningful as vocabulary —
    and with it absolute CE — grows with corpus size) — the CCNet-style "does a cheap
    LM find this document surprising" quality gate (production swaps
    in a held-out KenLM; the relational shape — train counts, score by
    join, per-doc reduce — is identical). High-CE docs are rare-token
    soup (boilerplate, codes, noise); the flag column is what the
    curation pipeline drops or down-weights.

    Exactness: token counts exact; -ln p quantized ONCE PER VOCAB
    ENTRY to integer micro-nats (the q_entropy_profile treatment —
    ln over exactly-equal doubles rounds identically on both engines),
    then per-doc totals are exact integer sums and ce_micro one
    truncating division.

    Scale: two hash aggregates build the LM (map-side partials); the
    scoring join is keyed by term — shuffle proportional to postings,
    never docs x vocab; the (N, V) totals are a 1-row broadcast
    stitch. This is the distributed layout of a real LM-filter pass."""
    doc = _unigram_doc_ce(spark, sf_dir)
    corpus = doc.agg(
        F.expr(
            "CAST(SUM(nll_sum_micro) div SUM(n_toks) AS BIGINT)"
        ).alias("corpus_ce_micro")
    )
    return doc.crossJoin(F.broadcast(corpus)).select(
        "doc_id",
        "n_toks",
        "nll_sum_micro",
        "ce_micro",
        "corpus_ce_micro",
        (
            F.col("ce_micro")
            > F.col("corpus_ce_micro") + F.lit(_PPL_MARGIN_MICRO)
        ).alias("flagged"),
    )


# ---------------------------------------------------------------------
# q_ccnet_perplexity_buckets (round 8)
# ---------------------------------------------------------------------


@query(
    "q_ccnet_perplexity_buckets",
    oracle="""
    WITH tok AS (
      SELECT doc_id, t AS term
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
            FROM documents)
      WHERE t <> ''
    ),
    vocab AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY term
    ),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n_total,
             CAST(COUNT(*) AS BIGINT) AS v_size
      FROM vocab
    ),
    lp AS (
      SELECT term,
             CAST(ROUND(-ln((CAST(c AS DOUBLE) + 1.0)
                            / (CAST(tot.n_total AS DOUBLE)
                               + CAST(tot.v_size AS DOUBLE))) * 1000000)
                  AS BIGINT) AS nll_micro
      FROM vocab, tot
    ),
    doc AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_toks,
             CAST(SUM(lp.nll_micro) // COUNT(*) AS BIGINT) AS ce_micro
      FROM tok t JOIN lp USING (term)
      GROUP BY t.doc_id
    ),
    bucketed AS (
      SELECT d.lang, doc.n_toks, doc.ce_micro,
             ntile(3) OVER (PARTITION BY d.lang
                            ORDER BY doc.ce_micro, doc.doc_id) AS b
      FROM doc JOIN documents d USING (doc_id)
    )
    SELECT lang,
           CAST(b AS BIGINT) AS bucket,
           CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                  ELSE 'tail' END AS bucket_name,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CAST(MIN(ce_micro) AS BIGINT) AS min_ce_micro,
           CAST(MAX(ce_micro) AS BIGINT) AS max_ce_micro
    FROM bucketed
    GROUP BY lang, b
    """,
    tags=("corpus", "perplexity", "ccnet", "curation", "llm-pipeline"),
)
def q_ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split: per LANGUAGE, docs sorted by
    LM cross-entropy are cut into equal-count terciles — 'head' is the
    cleanest third a pretraining recipe keeps outright, 'middle' gets
    sampled, 'tail' is dropped or heavily down-weighted (Wenzek et al.
    2020). Reads the same exact-integer unigram-CE midframe as
    q_doc_perplexity_filter (_unigram_doc_ce).

    Exactness: ce_micro is an exact integer (see the filter's
    docstring); the tercile cut is a fully tie-broken ntile
    (ce_micro, doc_id) so bucket membership is deterministic; all
    reported aggregates are integer counts/sums/extrema.

    Scale: the LM build is two hash aggregates + a term-keyed scoring
    join (postings-proportional); the ntile window is LANG-KEYED
    (partition-parallel — per-language frames, never a global sort);
    output is |langs| x 3 rows."""
    doc = _unigram_doc_ce(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy("ce_micro", "doc_id")
    bucketed = (
        doc.join(d, "doc_id")
        .select("lang", "n_toks", "ce_micro", F.ntile(3).over(w).alias("b"))
    )
    return bucketed.groupBy("lang", "b").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        F.min("ce_micro").alias("min_ce_micro"),
        F.max("ce_micro").alias("max_ce_micro"),
    ).select(
        "lang",
        F.col("b").cast("long").alias("bucket"),
        F.when(F.col("b") == 1, "head")
        .when(F.col("b") == 2, "middle")
        .otherwise("tail")
        .alias("bucket_name"),
        "n_docs",
        "n_tokens",
        "min_ce_micro",
        "max_ce_micro",
    )
