"""Seeded input generator for the benchmark.

Every input is a pure function of (workload, seed, sizes): the same seed
gives byte-identical files. Draws are vectorised over the whole token
array (one bulk Zipf draw per corpus); only the few near-duplicate
documents are built one by one. Outputs are cached on disk by
(workload, seed, sizes, this file's text), outside any timed region.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload. The Zipf parameters follow the corpus the paper's
# reference program targets: a long-tailed vocabulary, ~60 tokens a doc.
SIZES = {
    "serve_terms": dict(docs=10_000, vocab=100_000, mean_len=60, zipf=1.07,
                        stream=4000),
    # dedup corpus, then the declared queries' tables. The dedup corpus
    # draws words uniformly: under a Zipf draw a frequent shingle that
    # happens to hash low puts many unrelated documents in one LSH band
    # bucket, and the work then swings by seed rather than by program.
    "ops_mix": dict(docs=4_000, vocab=100_000, mean_len=60, zipf=0.0,
                    dup_share=0.10, sub_share=0.05, batches=4, delete_every=13,
                    mix_docs=1_000, mix_embeddings=400, dim=64),
}

# The query tables mirror the shape of the declared queries' own test tables:
# a 30-word vocabulary, 10..99 tokens a doc, 20 sources, 5 languages,
# ~5% near-copies tagged with a trailing "dup", unit-norm embeddings
# with 10 labels.
MIX_WORDS = ("a agg batch big column customer data fast filter group hash join key "
             "line merge order part query row scan slow small sort spark stream "
             "table the value vector window").split()
MIX_LANGS = ["en", "de", "es", "fr", "zh"]
MIX_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _rng(seed, tag):
    return np.random.default_rng([int(seed), int(hashlib.sha256(tag.encode()).hexdigest()[:8], 16)])


def zipf_tokens(rng, n_docs, vocab, mean_len, zipf):
    """(lengths, token ids) for n_docs documents in one bulk draw."""
    lengths = np.maximum(1, rng.poisson(mean_len, n_docs))
    p = 1.0 / np.arange(1, vocab + 1, dtype=np.float64) ** zipf
    cdf = np.cumsum(p / p.sum())
    ranks = np.searchsorted(cdf, rng.random(int(lengths.sum())), side="right")
    ranks = np.minimum(ranks, vocab - 1)
    # term names carry no rank order, so lexicographic tie-breaks are not
    # biased toward popular terms
    perm = rng.permutation(vocab)
    return lengths, perm[ranks]


def term_names(vocab):
    return np.array([f"w{i:05d}" for i in range(vocab)], dtype=object)


def doc_texts(names, lengths, toks):
    words = names[toks].tolist()
    ends = np.cumsum(lengths).tolist()
    out, start = [], 0
    for e in ends:
        out.append(" ".join(words[start:e]))
        start = e
    return out


def query_stream(rng, lengths, toks, vocab, n):
    """Seeded query terms: even positions drawn in proportion to corpus
    frequency (popular), odd positions uniform over the corpus's distinct
    terms (tail); every 50th position (from 1) an absent term. Returns
    (term id or -1 for absent, class) with class head = top df decile."""
    doc_of = np.repeat(np.arange(len(lengths)), lengths)
    pairs = np.unique(doc_of.astype(np.int64) * vocab + toks)
    df = np.bincount(pairs % vocab, minlength=vocab)
    present = np.flatnonzero(df)
    head_cut = np.quantile(df[present], 0.9)
    absent = np.flatnonzero(df == 0)
    terms = np.where(np.arange(n) % 2 == 0,
                     toks[rng.integers(0, len(toks), n)],
                     present[rng.integers(0, len(present), n)])
    is_absent = (np.arange(n) % 50) == 1
    out = []
    for t, a in zip(terms.tolist(), is_absent.tolist()):
        if a and len(absent):
            out.append((int(absent[rng.integers(0, len(absent))]), "absent"))
        else:
            out.append((t, "head" if df[t] >= head_cut else "tail"))
    return out


def _write_lines(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")


def _corpus(seed, s):
    rng = _rng(seed, "corpus")
    lengths, toks = zipf_tokens(rng, s["docs"], s["vocab"], s["mean_len"], s["zipf"])
    names = term_names(s["vocab"])
    return rng, lengths, toks, names


def gen_terms(out, seed, s):
    """serve_terms: corpus.txt in the reference's format
    (first token = doc id) plus queries.tsv (term, class)."""
    rng, lengths, toks, names = _corpus(seed, s)
    texts = doc_texts(names, lengths, toks)
    _write_lines(os.path.join(out, "corpus.txt"),
                 [f"d{i} {t}" for i, t in enumerate(texts)])
    stream = query_stream(_rng(seed, "queries"), lengths, toks, s["vocab"], s["stream"])
    _write_lines(os.path.join(out, "queries.tsv"),
                 [f"{names[t]}\t{c}" for t, c in stream])
    return {"docs": s["docs"], "tokens": int(lengths.sum()),
            "distinct_terms": int(len(np.unique(toks)))}


def gen_dedup(out, seed, s):
    """Near-duplicate corpus split into ingest batches, the injected
    (source, copy) pairs, and the seeded delete set."""
    rng, lengths, toks, names = _corpus(seed, s)
    n = s["docs"]
    starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    docs = [toks[a:a + l] for a, l in zip(starts.tolist(), lengths.tolist())]
    drng = _rng(seed, "dups")
    copies = np.sort(drng.choice(np.arange(1, n), int(n * s["dup_share"]), replace=False))
    pairs = []
    for c in copies.tolist():
        src = int(drng.integers(0, c))
        d = docs[src].copy()
        sub = drng.random(len(d)) < s["sub_share"]
        d[sub] = drng.integers(0, s["vocab"], int(sub.sum()))
        docs[c] = d
        pairs.append((src, c))
    texts = [" ".join(names[d].tolist()) for d in docs]
    bounds = np.linspace(0, n, s["batches"] + 1).astype(int)
    for b in range(s["batches"]):
        lo, hi = int(bounds[b]), int(bounds[b + 1])
        pq.write_table(pa.table({"doc_id": pa.array(np.arange(lo, hi), pa.int64()),
                                 "text": pa.array(texts[lo:hi], pa.string())}),
                       os.path.join(out, f"batch{b}.parquet"))
    dels = np.sort(_rng(seed, "deletes").choice(n, n // s["delete_every"], replace=False))
    _write_lines(os.path.join(out, "delete_ids.txt"), [str(i) for i in dels.tolist()])
    _write_lines(os.path.join(out, "dup_pairs.tsv"), [f"{a}\t{b}" for a, b in pairs])
    return {"docs": n, "input_bytes": int(sum(len(t.encode()) for t in texts)),
            "dup_pairs": len(pairs), "deleted": int(len(dels))}


def gen_mix(out, seed, s):
    """The declared queries' documents.parquet and embeddings.parquet."""
    rng = _rng(seed, "mix")
    n = s["mix_docs"]
    lengths = rng.integers(10, 100, n)
    texts = doc_texts(np.array(MIX_WORDS, dtype=object),
                      lengths, rng.integers(0, len(MIX_WORDS), int(lengths.sum())))
    copies = np.flatnonzero(rng.random(n) < 0.05)
    for c in copies[copies > 0].tolist():
        texts[c] = texts[int(rng.integers(0, c))] + " dup"
    langs = np.array(MIX_LANGS, dtype=object)[rng.choice(len(MIX_LANGS), n, p=MIX_LANG_P)]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out, "documents.parquet"))
    m, dim = s["mix_embeddings"], s["dim"]
    v = rng.standard_normal((m, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32()),
    }), os.path.join(out, "embeddings.parquet"))
    return {"mix_docs": n, "mix_embeddings": m}


def gen_ops(out, seed, s):
    return {**gen_dedup(out, seed, s), **gen_mix(out, seed, s)}


GENERATORS = {"serve_terms": gen_terms, "ops_mix": gen_ops}


def inputs(root, workload, seed):
    """Directory holding the workload's inputs for `seed`, generated on
    first use. Returns (dir, summary dict)."""
    s = SIZES[workload]
    with open(__file__, "rb") as f:
        code = f.read()
    key = hashlib.sha256(code + json.dumps([workload, seed, s], sort_keys=True)
                         .encode()).hexdigest()[:12]
    d = os.path.join(root, f"{workload}-{seed}-{key}")
    meta = os.path.join(d, "summary.json")
    if not os.path.exists(meta):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        summary = GENERATORS[workload](tmp, seed, s)
        with open(os.path.join(tmp, "summary.json"), "w") as f:
            json.dump(summary, f)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(meta) as f:
        return d, json.load(f)
