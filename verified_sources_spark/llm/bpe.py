"""Byte-pair-encoding tokenizer: distributed corpus statistics, exact
merge training, Arrow-batched application.

A training-data pipeline that reports token counts, packs sequences, or
enforces token budgets needs an actual learned tokenizer, not just the
whitespace/regex proxy in ``functions.text``.  This is the classic BPE
recipe (Sennrich et al. 2016's algorithm, as used by GPT-2-style
vocabularies):

1. ``word_frequencies`` — ONE distributed aggregation collapses the
   corpus (any size) to its word-frequency table.  This is the only
   corpus-sized step; the table is vocabulary-sized (Zipf: a 100 TB crawl
   has tens of millions of distinct words, not trillions).
2. ``train_bpe`` — exact greedy merge learning over the word-frequency
   table, driver-side BY DESIGN: the working set is the vocab, and the
   algorithm is inherently sequential (merge i+1 depends on merge i).
   Incremental pair-count maintenance (only words containing the merged
   pair are touched), deterministic tie-breaking (count desc, then
   lexicographic pair), so two runs — or two engines — learn byte-equal
   merge tables.  ``max_vocab_rows`` guards the driver: the collect
   RAISES beyond it instead of OOMing (cap the vocab with ``min_freq``).
3. ``apply_bpe`` — encoding is embarrassingly parallel: the merge ranks
   broadcast in the UDF closure (a merge table is KBs–MBs), each Arrow
   batch encodes independently, and a per-batch word cache collapses the
   Zipf head (most tokens in a batch are repeats of common words).

End-of-word handling: the final symbol of each word carries the ``</w>``
marker (the paper's formulation), so ``xy</w>`` and ``xy`` mid-word are
distinct merge targets and decoding is unambiguous: concatenate tokens,
split on the marker.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from verified_sources_spark.boundary import map_batches
from verified_sources_spark.cut import cut

from verified_sources_spark.functions.text import tokens

EOW = "</w>"


def word_frequencies(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) over the tokenized corpus — the one corpus-sized pass
    of BPE training.  Uses the engine tokenizer (lowercased [a-z0-9]+
    runs) so counts match ``functions.text.token_count`` semantics."""
    return (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )


def _word_symbols(word: str) -> tuple[str, ...]:
    if not word:
        return ()
    return tuple(word[:-1]) + (word[-1] + EOW,)


def _merge_word(sym: tuple[str, ...], a: str, b: str) -> tuple[str, ...]:
    out: list[str] = []
    i = 0
    while i < len(sym):
        if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def _pair_counts_of(sym: tuple[str, ...]) -> Counter:
    c: Counter = Counter()
    for i in range(len(sym) - 1):
        c[(sym[i], sym[i + 1])] += 1
    return c


def train_bpe(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    min_freq: int = 2,
    max_vocab_rows: int | None = 5_000_000,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus; returns the ordered
    merge list (rank = position).

    Exact and deterministic: at every step the highest-count pair wins,
    ties broken by the lexicographically smallest pair.  Stops early when
    no pair occurs at least twice (merging a count-1 pair memorizes one
    word).  Incremental maintenance: merging (a,b) re-counts only the
    words that contain the pair — the standard index trick that makes
    tens of thousands of merges tractable on a multi-million-row vocab.

    ``max_vocab_rows=None`` switches to the DISTRIBUTED trainer: the
    vocab never collects, per-iteration pair counts run as a DataFrame
    aggregation and the merge applies as a JVM-side array fold — same
    greedy algorithm, same tie-break, byte-equal merges (asserted in
    tests), at one shuffle per merge instead of a driver working set.
    Use it when the vocabulary exceeds driver memory; the driver path
    stays the low-latency default for vocabularies that fit."""
    wf = word_frequencies(df, text_col).filter(F.col("freq") >= int(min_freq))
    if max_vocab_rows is None:
        return _train_bpe_distributed(wf, n_merges)
    n = wf.count()
    if n > max_vocab_rows:
        raise ValueError(
            f"word-frequency table has {n} rows > max_vocab_rows="
            f"{max_vocab_rows}; raise min_freq, or pass "
            "max_vocab_rows=None for the distributed trainer (the corpus "
            "itself is never collected either way)"
        )
    words: dict[int, tuple[str, ...]] = {}
    freqs: dict[int, int] = {}
    for idx, row in enumerate(wf.collect()):
        sym = _word_symbols(row["word"])
        if len(sym) >= 2:
            words[idx] = sym
            freqs[idx] = int(row["freq"])

    pair_counts: Counter = Counter()
    pair_words: defaultdict[tuple[str, str], set[int]] = defaultdict(set)
    for idx, sym in words.items():
        for pair, k in _pair_counts_of(sym).items():
            pair_counts[pair] += k * freqs[idx]
            pair_words[pair].add(idx)

    merges: list[tuple[str, str]] = []
    for _ in range(int(n_merges)):
        best_pair, best_cnt = None, 1
        for pair, cnt in pair_counts.items():
            if cnt < 2:
                continue
            if (
                best_pair is None
                or cnt > best_cnt
                or (cnt == best_cnt and pair < best_pair)
            ):
                best_pair, best_cnt = pair, cnt
        if best_pair is None:
            break
        a, b = best_pair
        merges.append((a, b))
        for idx in list(pair_words[(a, b)]):
            old = words[idx]
            new = _merge_word(old, a, b)
            f = freqs[idx]
            for pair, k in _pair_counts_of(old).items():
                pair_counts[pair] -= k * f
                if pair_counts[pair] <= 0:
                    del pair_counts[pair]
                s = pair_words.get(pair)
                if s is not None:
                    s.discard(idx)
                    if not s:
                        del pair_words[pair]
            if len(new) >= 2:
                words[idx] = new
                for pair, k in _pair_counts_of(new).items():
                    pair_counts[pair] += k * f
                    pair_words[pair].add(idx)
            else:
                del words[idx]
                del freqs[idx]
    return merges


def _sql_str(s: str) -> str:
    """Spark-SQL single-quoted string literal (C-style escapes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _train_bpe_distributed(wf: DataFrame, n_merges: int) -> list[tuple[str, str]]:
    """Distributed greedy BPE over the word-frequency DataFrame: the
    vocabulary stays a DataFrame end-to-end (no driver ceiling).

    Per merge iteration (the algorithm is inherently sequential — merge
    i+1 depends on merge i):

    1. adjacent-pair counts as ``explode → groupBy(pair) → sum(freq)``
       (map-side partial aggregation, one shuffle of pair-sized rows);
    2. the winner by ``ORDER BY cnt DESC, a, b LIMIT 1`` — the driver
       sees ONE row, the same (count desc, lexicographic pair)
       tie-break as the driver trainer;
    3. the merge applied to every word as a JVM-side ``aggregate`` fold
       over the symbol array (left-to-right greedy, identical to
       ``_merge_word`` including the a==b overlap case) — no Python in
       the loop.

    ``localCheckpoint`` after every iteration caps lineage growth (each
    fold would otherwise nest the previous plan).  Cost: one shuffle +
    one vocab materialization per merge — the price of exceeding driver
    memory; byte-equal output to the driver path is test-asserted."""
    cur = (
        wf.select(
            F.expr(
                "transform(sequence(1, length(word)), i -> "
                "case when i = length(word) "
                f"then concat(substring(word, i, 1), '{EOW}') "
                "else substring(word, i, 1) end)"
            ).alias("sym"),
            F.col("freq").cast("long").alias("freq"),
        )
        .filter(F.size("sym") >= 2)
        .transform(cut, eager=True)
    )
    pair_expr = F.expr(
        "transform(slice(sym, 1, size(sym) - 1), (s, i) -> "
        "named_struct('a', s, 'b', element_at(sym, i + 2)))"
    )
    merges: list[tuple[str, str]] = []
    for _ in range(int(n_merges)):
        best = (
            cur.select(F.explode(pair_expr).alias("p"), "freq")
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
            .filter(F.col("cnt") >= 2)
            .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b = best[0]["a"], best[0]["b"]
        merges.append((a, b))
        la, lb, lab = _sql_str(a), _sql_str(b), _sql_str(a + b)
        fold = (
            "aggregate(sym, "
            "named_struct('acc', cast(array() as array<string>), 'pend', false), "
            "(st, x) -> CASE "
            f"WHEN st.pend AND x = {lb} THEN named_struct("
            f"'acc', concat(st.acc, array({lab})), 'pend', false) "
            f"WHEN st.pend AND x = {la} THEN named_struct("
            f"'acc', concat(st.acc, array({la})), 'pend', true) "
            f"WHEN st.pend THEN named_struct("
            f"'acc', concat(st.acc, array({la}, x)), 'pend', false) "
            f"WHEN x = {la} THEN named_struct('acc', st.acc, 'pend', true) "
            "ELSE named_struct('acc', concat(st.acc, array(x)), 'pend', false) "
            "END, "
            f"st -> CASE WHEN st.pend THEN concat(st.acc, array({la})) "
            "ELSE st.acc END)"
        )
        cur = (
            cur.withColumn("sym", F.expr(fold))
            .filter(F.size("sym") >= 2)
            .transform(cut, eager=True)
        )
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    sym = list(_word_symbols(word))
    while len(sym) >= 2:
        best_rank, best_i = None, -1
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        sym[best_i : best_i + 2] = [sym[best_i] + sym[best_i + 1]]
    return sym


def apply_bpe(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[str, str]],
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Append ``out_col`` (array<string> of BPE subword tokens, in
    document order, ``</w>`` marking word ends).

    One ``map_batches`` stage with the merge ranks in the closure:
    encoding is pure per-row work, Arrow-batched, and every input column
    passes through as its Arrow column.  The word→tokens cache lives in
    the closure too, so each task keeps one across its batches (the
    Zipf head encodes once per task, not once per occurrence).
    """
    import re as _re

    import pyspark.sql.types as T

    ranks = {tuple(m): i for i, m in enumerate(merges)}
    token_re = _re.compile(r"[a-z0-9]+")
    out_schema = T.StructType(
        [T.StructField(f.name, f.dataType) for f in df.schema.fields]
        + [T.StructField(out_col, T.ArrayType(T.StringType()))]
    )
    cache: dict[str, list[str]] = {}

    def encode(batch):
        col = []
        for text in batch.column(text_col).to_pylist():
            toks: list[str] = []
            for w in token_re.findall((text or "").lower()):
                enc = cache.get(w)
                if enc is None:
                    enc = _encode_word(w, ranks)
                    cache[w] = enc
                toks.extend(enc)
            col.append(toks)
        return {**dict(zip(batch.schema.names, batch.columns)), out_col: col}

    return map_batches(df, encode, out_schema)


def decode_bpe(tokens_: list[str]) -> str:
    """Inverse of ``apply_bpe`` for one token list: concatenate, split on
    the end-of-word marker."""
    return " ".join(w for w in "".join(tokens_).split(EOW) if w)
