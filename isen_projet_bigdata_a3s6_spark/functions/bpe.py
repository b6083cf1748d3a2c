"""Distributed BPE (byte-pair encoding) tokenizer training — the merge-rule
learner of Sennrich et al. 2016 (arXiv:1508.07909), in the shape that
scales to a 100 TB corpus:

1. The corpus collapses ONCE to word frequencies (the only pass that
   touches raw text) — every later iteration runs on the vocabulary-sized
   frame, independent of corpus size.
2. Each merge iteration counts adjacent symbol pairs with a builtin
   explode→groupBy (codegen'd, weighted by word frequency), takes the
   argmax pair (deterministic tie-break: freq desc, then pair
   lexicographic), and applies the merge with a vectorized
   ``mapInPandas`` over the vocabulary frame.
3. Lineage is cut per round via the shared checkpoint helper, so N merges
   don't stack N plans.

Words carry the classic end-of-word marker ``</w>`` so merges distinguish
word-final from word-internal pairs.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpointing import cut_lineage
from .text import tokens

EOW = "</w>"

# Java's \s class — EXACTLY what the Spark-SQL train path splits on
# (text.tokens → split('\\s+')). Python str.split() splits on ALL Unicode
# whitespace (U+00A0, U+2007, U+2028, ...), so a document containing
# non-ASCII whitespace would tokenize differently encode-vs-train and
# engine-vs-oracle (r09 advisory). The residual RE2-vs-Java U+000B gap
# stays pinned engine-side as before (bpe_oracle.py header note).
JAVA_WS = re.compile("[ \\t\\n\\x0b\\f\\r]+")


def _local_java_ws_tokens():
    """A fresh, closure-local tokenizer function with NO references to
    this module — safe to capture into worker closures (cloudpickle
    serializes it by value; only stdlib ``re`` is imported on the
    worker). Semantics identical to :func:`java_ws_tokens`."""

    def tok(text) -> list[str]:
        import re

        if text is None:
            return []
        return [
            t for t in re.split("[ \\t\\n\\x0b\\f\\r]+", str(text).lower()) if t
        ]

    return tok


def java_ws_tokens(text) -> list[str]:
    """Executor-side twin of text.tokens(): lowercase, split on the Java
    \\s class, drop empties. No str.strip() — Python strip() removes
    Unicode whitespace that Spark's trim (ASCII space) keeps, and the
    empty-token filter already absorbs leading/trailing separators.
    DRIVER-side utility (tests, pure-Python mirrors): worker closures
    must capture :func:`_local_java_ws_tokens` instead (module-reference
    pickling rule)."""
    if text is None:
        return []
    return [t for t in JAVA_WS.split(str(text).lower()) if t]


def _merge_pair_fn(a: str, b: str):
    merged = a + b

    def apply(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_syms = []
            for syms in pdf["syms"]:
                s = list(syms)
                res = []
                i = 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                        res.append(merged)
                        i += 2
                    else:
                        res.append(s[i])
                        i += 1
                out_syms.append(res)
            pdf = pdf.copy()
            pdf["syms"] = out_syms
            yield pdf

    return apply


def bpe_train(
    df: DataFrame,
    text_col: str,
    num_merges: int = 10,
) -> list[tuple[str, str, int]]:
    """Learn ``num_merges`` merge rules; returns [(left, right, freq), ...]
    in learned order. Stops early if no pair occurs twice."""
    if num_merges < 1:
        raise ValueError("bpe_train: num_merges must be >= 1")
    words = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # word -> symbol sequence: chars + end-of-word marker
    state = words.select(
        "freq",
        F.concat(
            F.transform(
                F.sequence(F.lit(1), F.length("w")),
                lambda i: F.substring(F.col("w"), i, F.lit(1)),
            ),
            F.array(F.lit(EOW)),
        ).alias("syms"),
    )
    state = cut_lineage(state)

    rules: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        pairs = (
            state.select(
                "freq",
                F.explode(
                    F.transform(
                        F.slice("syms", 1, F.size("syms") - 1),
                        lambda s, i: F.struct(
                            s.alias("a"), F.element_at("syms", i + 2).alias("b")
                        ),
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
        )
        top = pairs.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b")).limit(1).collect()
        if not top or top[0]["cnt"] < 2:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        rules.append((a, b, cnt))
        state = state.mapInPandas(
            _merge_pair_fn(a, b), "freq long, syms array<string>"
        )
        state = cut_lineage(state)
    return rules


def bpe_encode(
    df: DataFrame,
    text_col: str,
    rules: list[tuple[str, str, int]] | list[tuple[str, str]],
    id_col: str = "doc_id",
    out_col: str = "n_bpe_tokens",
    max_passes: int = 16,
) -> DataFrame:
    """Apply learned merge rules (in learned order — the standard greedy
    encode) and return ``(id_col, n_tokens, n_bpe_tokens)`` per document.
    The rule table is tiny and ships in the closure (a broadcast at scale);
    each Arrow batch memoizes word→length so repeated words cost one encode
    per batch. Pure map — no shuffle.

    ``max_passes`` bounds the greedy loop (each pass applies the
    lowest-rank applicable rule once, left-to-right). The loop terminates
    naturally well under 16 passes for any real vocabulary — a pass
    eliminates every occurrence of its bigram, and re-creation needs a
    later merge to rebuild one of its halves — but the bound is EXPLICIT
    so the SQL oracle (functions/bpe_oracle.py) can unroll exactly the
    same number of rounds: parity is then unconditional up to the
    documented RE2-vs-Java U+000B tokenizer gap (bpe_oracle.py header),
    pathological inputs included (the degenerate sweep's 5000-char
    token). Tokenization uses java_ws_tokens — the Java \\s class, same
    as the SQL train path — NOT str.split()'s all-Unicode whitespace."""
    pairs = [(r[0], r[1]) for r in rules]
    rank = {p: i for i, p in enumerate(pairs)}
    # captured BY VALUE into the worker closures: module-level references
    # (java_ws_tokens, EOW) would make cloudpickle import THIS module on
    # the executors, which only works when the driver's cwd/PYTHONPATH
    # exposes the repo — the q286 local-closure worker-pickling rule
    eow = EOW
    tok = _local_java_ws_tokens()

    def encode_len(word: str) -> int:
        s = list(word) + [eow]
        passes = 0
        while len(s) > 1 and passes < max_passes:
            passes += 1
            best, best_rank = None, None
            for i in range(len(s) - 1):
                r = rank.get((s[i], s[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best, best_rank = i, r
            if best is None:
                break
            a, b = pairs[best_rank]
            res, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(s[i])
                    i += 1
            s = res
        return len(s)

    def per_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, int] = {}
        for pdf in batches:
            ids, n_toks, n_bpe = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = tok(text)
                total = 0
                for w in toks:
                    if w not in memo:
                        memo[w] = encode_len(w)
                    total += memo[w]
                ids.append(did)
                n_toks.append(len(toks))
                n_bpe.append(total)
            yield pd.DataFrame(
                {id_col: ids, "n_tokens": n_toks, out_col: n_bpe}
            )

    return df.select(id_col, text_col).mapInPandas(
        per_batch, f"{id_col} long, n_tokens int, {out_col} int"
    )
