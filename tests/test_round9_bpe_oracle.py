"""Round-9 tokenizer-family promotion (q149/q150/q237): the generated BPE
oracle SQL (functions/bpe_oracle.py) is validated against a pure-Python
reference that mirrors functions/bpe.py STEP FOR STEP — tokenization, the
argmax tie-break (count desc, pair lexicographic), the greedy left-to-right
merge pass, the bounded-pass encode, and the WordPiece greedy
longest-match segmenter — on the clean sf0.001 corpus AND on the corpus
with the degenerate-sweep rows appended (empty/whitespace/null text, the
5000-char single token). Pure DuckDB + Python: no Spark needed, so the
full training replay is pinned cheaply; engine-vs-oracle parity itself is
pinned by test_oracle_parity (the repo gate)."""
import sys

import duckdb

from isen_projet_bigdata_a3s6_spark.functions.bpe_oracle import (
    bpe_encode_oracle_sql,
    bpe_train_oracle_sql,
    wordpiece_stats_oracle_sql,
)

from isen_projet_bigdata_a3s6_spark.functions.bpe import java_ws_tokens as tokens

EOW = "</w>"


def merge_pass(s, a, b):
    res, i = [], 0
    while i < len(s):
        if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
            res.append(a + b)
            i += 2
        else:
            res.append(s[i])
            i += 1
    return res


def bpe_train_ref(texts, num_merges):
    freq = {}
    for t in texts:
        for w in tokens(t):
            freq[w] = freq.get(w, 0) + 1
    state = {w: (list(w) + [EOW], f) for w, f in freq.items()}
    rules = []
    for _ in range(num_merges):
        pc = {}
        for syms, f in state.values():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] = pc.get((syms[i], syms[i + 1]), 0) + f
        if not pc:
            break
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if cnt < 2:
            break
        rules.append((a, b, cnt))
        state = {w: (merge_pass(syms, a, b), f) for w, (syms, f) in state.items()}
    return rules


def encode_len_ref(word, rules, max_passes):
    pairs = [(r[0], r[1]) for r in rules]
    rank = {p: i for i, p in enumerate(pairs)}
    s = list(word) + [EOW]
    passes = 0
    while len(s) > 1 and passes < max_passes:
        best_rank = None
        for i in range(len(s) - 1):
            r = rank.get((s[i], s[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
        if best_rank is None:
            break
        a, b = pairs[best_rank]
        s = merge_pass(s, a, b)
        passes += 1
    return len(s)


def wp_encode_ref(word, vocab, max_len):
    if len(word) > max_len:
        return 1, 0
    n, start = 0, 0
    while start < len(word):
        end = len(word)
        while start < end:
            sub = word[start:end]
            if start > 0:
                sub = "##" + sub
            if sub in vocab or end - start == 1:
                break
            end -= 1
        n += 1
        start = end
    return n, 1 if n > 1 else 0


def run(sf_dir, extra_docs=None, num_merges=8, max_passes=16, max_len=32):
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    if extra_docs:
        for i, (text, lang) in enumerate(extra_docs):
            con.execute(
                "INSERT INTO documents (doc_id, text, lang) VALUES (?, ?, ?)",
                [10_000_000 + i, text, lang],
            )
    rows = con.execute("SELECT doc_id, text, lang FROM documents ORDER BY doc_id").fetchall()
    texts = [r[1] for r in rows]

    # --- train ---
    ref_rules = bpe_train_ref(texts, num_merges)
    sql = bpe_train_oracle_sql("documents", "text", num_merges)
    got = con.execute(sql).fetchall()
    exp = [(i + 1, a, b, c) for i, (a, b, c) in enumerate(ref_rules)]
    assert got == exp, f"TRAIN mismatch:\n got={got}\n exp={exp}"
    print(f"train OK ({len(got)} rules): {got[:4]}...")

    # --- encode ---
    sql = bpe_encode_oracle_sql("documents", "text", "doc_id", num_merges, max_passes)
    got = {r[0]: (r[1], r[2]) for r in con.execute(sql).fetchall()}
    exp = {}
    for did, text, _ in rows:
        toks = tokens(text)
        exp[did] = (len(toks), sum(encode_len_ref(w, ref_rules, max_passes) for w in toks))
    assert got == exp, "ENCODE mismatch: " + str(
        [(k, got.get(k), exp.get(k)) for k in exp if got.get(k) != exp.get(k)][:5]
    )
    print(f"encode OK ({len(got)} docs)")

    # --- wordpiece ---
    vocab = set()
    for a, b, _ in ref_rules:
        u = (a + b).replace(EOW, "")
        if u:
            vocab.add(u)
            vocab.add("##" + u)
    sql = wordpiece_stats_oracle_sql("documents", "text", "doc_id", "lang", num_merges, max_len)
    got = {r[0]: r[1:] for r in con.execute(sql).fetchall()}
    agg = {}
    for did, text, lang in rows:
        toks = tokens(text)
        tw = len(toks)
        tp = ts = 0
        for w in toks:
            p, s = wp_encode_ref(w, vocab, max_len)
            tp += p
            ts += s
        d = agg.setdefault(lang, [0, 0, 0, 0])
        d[0] += 1
        d[1] += tw
        d[2] += tp
        d[3] += ts
    # compare n_docs, n_words, n_pieces, fertility, split_frac fully
    for lang, d in agg.items():
        g = got[lang]
        fert = round(d[2] / d[1], 6) if d[1] else None
        split = round(d[3] / d[1], 6) if d[1] else None
        assert g[0] == d[0] and g[1] == d[1] and g[2] == d[2], (lang, g, d)
        assert g[3] == fert and g[4] == split, (lang, g, fert, split)
    print(f"wordpiece OK ({len(got)} langs)")


DEGEN = [
    ("", "en"), ("word", "en"), ("   ", "en"), ("!!! ??? ... ;;;", "en"),
    ("a", "en"), ("x x x x x x x x", "en"), ("a" * 5000, "en"), (None, "en"),
    ("word", "zz"),
    # non-ASCII whitespace (r10): NBSP/figure-space/line-sep must tokenize
    # identically on both engines — Java \s class executor-side, ASCII-only
    # TRIM oracle-side (DuckDB's default TRIM strips Unicode Zs)
    ("\u00a0lead and trail\u00a0", "en"),
    ("nb\u00a0sp fig\u2007sp line\u2028sep", "en"),
]

def test_bpe_oracle_matches_reference_clean(sf_dir):
    run(sf_dir)


def test_bpe_oracle_matches_reference_degenerate(sf_dir):
    run(sf_dir, extra_docs=DEGEN)

