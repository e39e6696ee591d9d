"""The one place that says how `documents.text` splits into units.

- words(): the raw single-space split, empty tokens KEPT — DuckDB's
  `string_split(text, ' ')`, which the shingle oracles index by
  position.
- tokens(): words() with the empty tokens removed (multi-space safe) —
  `list_filter(string_split(text, ' '), x -> x <> '')`.
- token_set(): the distinct tokens (token-set Jaccard, vocabularies).
- shingles(d, n): (doc_id, s) rows, each document's distinct word
  n-grams joined by ' ' over words(), documents with none dropped —
  the near-duplicate family's shingle sets (n = 4).

shingles() and every caller that reuses one split several times select
`words()` (or `tokens()`) into its own column first and hand that
column to shingle_set / ngram_join: Catalyst then keeps the split in its own
(codegen'd) Project; a split written inside the n-gram expression is
inlined at every slice that reads it, with one Project fewer.

ngram_join(toks, n) builds the word n-gram array the zip-form way:
n constant-count slices of the token array zipped with concat_ws —
O(n) array allocations per ROW instead of one slice allocation per
POSITION (the previous `transform(sequence(...), i -> concat_ws(' ',
slice(toks, i, n)))` shape). Values are IDENTICAL — same positions,
same ' ' joins, same order — only the expression tree changes, so
every DuckDB oracle and driver hash is untouched. Measured at sf0.1
(documents, 4-grams, 32 cores): the shingle-array stage fell 1.79 s ->
0.65 s after the scan fan-out, and the same expression serves every
shingle consumer (MinHash-LSH twins, prefix filter, containment,
winnowing, span scrub, decontamination).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def words() -> Column:
    """`text` split on single spaces; empty tokens kept."""
    return F.split(F.col("text"), " ")


def tokens() -> Column:
    """words() without the empty tokens."""
    return F.filter(words(), lambda x: x != "")


def token_set() -> Column:
    """The distinct tokens() of `text`."""
    return F.array_distinct(tokens())


def shingles(d: DataFrame, n: int) -> DataFrame:
    """(doc_id, s): each document's distinct word n-grams of `text`
    (over words()), documents with none dropped."""
    tk = d.select("doc_id", words().alias("tk"))
    return tk.select("doc_id", shingle_set(F.col("tk"), n).alias("s")).filter(
        F.size("s") > 0
    )


def shingle_set(toks: Column, n: int) -> Column:
    """The distinct n-grams of an already-split token array."""
    return F.array_distinct(ngram_join(toks, n))


def ngram_join(toks: Column, n: int) -> Column:
    """Array of word n-grams of `toks` joined by ' ': position i
    (1-based) -> concat_ws(' ', toks[i], ..., toks[i+n-1]) for
    i in 1 .. size(toks)-n+1; EMPTY array (not null) when
    size(toks) < n. Bit-identical values to the slice-per-position
    form, built from n slices + (n-1) zip_with passes per row."""
    if n < 1:
        raise ValueError(f"ngram_join needs n >= 1, got {n}")
    m = F.size(toks) - (n - 1)  # gram count when positive
    out = F.slice(toks, 1, m)
    for k in range(2, n + 1):
        out = F.zip_with(
            out, F.slice(toks, k, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.when(F.size(toks) >= n, out).otherwise(
        F.array().cast("array<string>")
    )
