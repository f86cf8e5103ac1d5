"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of (workload, seed, size): one
``numpy.random.Generator(PCG64(seed))`` drawn in one fixed call order
(the replicas of ``bench.widen_documents`` use fixed seeds of their
own), so the same seed gives byte-identical pages and truth tables. The
program under test only ever sees the ``corpus`` frame (url, warc_ts,
html, text, lang); the truth tables stay with the benchmark.

Base pages mimic the shape of the repo's ``documents`` test table:
word sequences of 44-577 characters over a 30-word vocabulary, five
languages. They are widened x4 by ``bench.widen_documents`` into
replicas whose tokens are 60% replaced by replica-unique tokens, so
replicas never cross-match.
"""

from __future__ import annotations

import json
import os
from datetime import timedelta

import numpy as np
import pandas as pd

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "en", "en", "fr", "es", "de", "zh")
WIDEN = 4
# web-crawl: one base page in FAMILY_EVERY seeds a 7-variant family, so
# ~17% of its pages are family members and the rest unique
FAMILY_EVERY = 40
RECRAWLS = 4          # recrawl-dense: each page is crawled 1 + RECRAWLS times
RECRAWL_EDIT_P = 0.03
TEMPLATE_P = 0.05     # share of recrawls replaced by the one templated page


def base_documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """``n`` mutually non-duplicate base pages in the documents-table
    shape (doc_id, text, lang, source); ``n`` is rounded down to a
    multiple of the x4 widening."""
    from bench import widen_documents

    n_seed = max(1, n // WIDEN)
    lens = rng.integers(8, 100, size=n_seed)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    langs = rng.integers(0, len(LANGS), size=n_seed)
    texts = np.split(np.array(VOCAB)[words], np.cumsum(lens)[:-1])
    seeds = pd.DataFrame({
        "doc_id": np.arange(n_seed, dtype=np.int64),
        "text": [" ".join(t) for t in texts],
        "lang": [LANGS[i] for i in langs],
        "source": [f"src{i % 50}" for i in range(n_seed)],
    })
    return widen_documents(seeds, WIDEN)


def family_share(truth_clusters: pd.DataFrame) -> float:
    """Share of docs whose planted family has more than one member."""
    size = truth_clusters.groupby("family_id").doc_id.transform("size")
    return float((size > 1).mean())


def render_pages(urls, tss, texts, langs) -> pd.DataFrame:
    """Corpus rows (url, warc_ts, html, text, lang) as make_corpus builds them."""
    from miekki.textproc import render_html

    return pd.DataFrame({
        "url": urls,
        "warc_ts": pd.Series(tss, dtype="datetime64[us, UTC]"),
        "html": [render_html(t) for t in texts],
        "text": texts,
        "lang": langs,
    })


def web_crawl(seed: int, n_base: int):
    """Mostly-unique crawl shard. ``make_corpus`` plants dup families
    (exact, near, reorder, contain, chain) on every 5th page it is given;
    it is given a seeded 5 / FAMILY_EVERY of the base pages, and the
    others are rendered the same way as unique pages."""
    from miekki.fixtures import EPOCH, TS_WRAP_S, _base_url, make_corpus
    from oracle.xxh64 import spark_xxhash64

    rng = np.random.Generator(np.random.PCG64(seed))
    docs = base_documents(rng, n_base)
    fam = np.zeros(len(docs), dtype=bool)
    fam[rng.choice(len(docs), size=5 * round(len(docs) / FAMILY_EVERY), replace=False)] = True
    corpus, tp, tc = make_corpus(docs[fam], seed=seed)
    rest = docs[~fam]
    urls = [_base_url(int(i), s, lg) for i, s, lg in zip(rest.doc_id, rest.source, rest.lang)]
    tss = [EPOCH + timedelta(seconds=(int(i) * 137) % TS_WRAP_S) for i in rest.doc_id]
    ids = [spark_xxhash64(u) for u in urls]
    corpus = pd.concat([corpus, render_pages(urls, tss, list(rest.text), list(rest.lang))],
                       ignore_index=True)
    tc = pd.concat([tc, pd.DataFrame({"doc_id": ids, "family_id": ids})], ignore_index=True)
    return corpus, tp, tc


def recrawl_dense(seed: int, n_pages: int):
    """Every page crawled 1 + RECRAWLS times, each recrawl with ~3%
    token edits; TEMPLATE_P of the recrawls are replaced by one
    templated page (one hot bucket per band). Truth is recorded the way
    ``make_corpus`` records families: (page, recrawl) pairs with their
    true Jaccard, and (first template copy, template copy) pairs."""
    from miekki.fixtures import EPOCH, _base_url, _jaccard, _near, _tokens
    from oracle.xxh64 import spark_xxhash64

    rng = np.random.Generator(np.random.PCG64(seed))
    docs = base_documents(rng, n_pages)
    template = " ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), 90))
    k = 5  # shingle size of the pinned config (DedupConfig.shingle_k)
    urls, tss, texts, langs, fams, pairs = [], [], [], [], [], []
    tmpl_first = None
    for row in docs.itertuples(index=False):
        url = _base_url(int(row.doc_id), row.source, row.lang)
        ts = EPOCH + timedelta(seconds=int(row.doc_id) * 137)
        urls.append(url); tss.append(ts); texts.append(row.text)
        langs.append(row.lang); fams.append(url)
        toks = _tokens(row.text)
        for c in range(1, RECRAWLS + 1):
            rurl = f"{url}?crawl={c}"
            rts = ts + timedelta(days=c)
            if rng.random() < TEMPLATE_P:
                urls.append(rurl); tss.append(rts); texts.append(template)
                langs.append(row.lang)
                if tmpl_first is None:
                    tmpl_first = rurl
                else:
                    pairs.append((tmpl_first, rurl, "template", 1.0, 0))
                fams.append("template")
                continue
            rt = " ".join(_near(rng, toks, RECRAWL_EDIT_P))
            urls.append(rurl); tss.append(rts); texts.append(rt)
            langs.append(row.lang); fams.append(url)
            pairs.append((url, rurl, "recrawl", _jaccard(row.text, rt, k), 0))
    hid = {u: spark_xxhash64(u) for u in urls}
    if tmpl_first is not None:
        hid["template"] = hid[tmpl_first]
    corpus = render_pages(urls, tss, texts, langs)
    truth_pairs = pd.DataFrame(
        [(hid[s], hid[d], kd, j, rb) for s, d, kd, j, rb in pairs],
        columns=["src", "dst", "kind", "jaccard", "run_bytes"])
    truth_clusters = pd.DataFrame(
        {"doc_id": [hid[u] for u in urls], "family_id": [hid[f] for f in fams]})
    return corpus, truth_pairs, truth_clusters


# the stream's history is one fixed corpus per checkout, seeded into
# catalog state once; --seed picks the micro-batches from its pool
STREAM_UNIVERSE_SEED = 0


def stream_universe(n_history: int, n_pool: int):
    """A web-crawl corpus in arrival order: the first ``n_history`` rows
    are the history, the next ``n_pool`` the pool that micro-batches
    are drawn from. Families straddle the split, so batches carry dups
    of history pages."""
    n_docs = n_history + n_pool
    # web_crawl yields 1 + 7 / FAMILY_EVERY = 1.175 pages per base page
    corpus, tp, tc = web_crawl(STREAM_UNIVERSE_SEED,
                               WIDEN * (int(n_docs / 1.17 / WIDEN) + 1))
    assert len(corpus) >= n_docs, (len(corpus), n_docs)
    # truth_clusters rows are aligned with corpus rows; keep them aligned
    order = np.random.Generator(np.random.PCG64(STREAM_UNIVERSE_SEED)).permutation(
        len(corpus))[:n_docs]
    return (corpus.iloc[order].reset_index(drop=True), tp,
            tc.iloc[order].reset_index(drop=True))


def stream_batches(seed: int, n_history: int, n_pool: int, n_batches: int,
                   batch_docs: int) -> list[np.ndarray]:
    """Row indices of the universe for each micro-batch: a seeded draw
    without replacement from the pool."""
    pick = np.random.Generator(np.random.PCG64(seed)).permutation(n_pool)
    return [n_history + np.sort(pick[i * batch_docs:(i + 1) * batch_docs])
            for i in range(n_batches)]


def materialize(cache_dir: str, workload: str, seed: int, sizes: dict) -> dict:
    """Generate (or reuse) the workload's frames as parquet under
    ``cache_dir``; returns {name: path} plus the row count. Generation
    runs before any timed region. The stream's universe ignores
    ``seed`` (see stream_batches)."""
    if workload == "stream-increments":
        seed = STREAM_UNIVERSE_SEED
        sizes = {k: sizes[k] for k in ("history", "pool")}
    tag = "_".join(f"{k}{v}" for k, v in sorted(sizes.items()))
    out = os.path.join(cache_dir, f"{workload}_s{seed}_{tag}")
    meta = os.path.join(out, "meta.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return json.load(f)
    if workload == "web-crawl":
        corpus, tp, tc = web_crawl(seed, sizes["base"])
    elif workload == "recrawl-dense":
        corpus, tp, tc = recrawl_dense(seed, sizes["pages"])
    else:
        corpus, tp, tc = stream_universe(sizes["history"], sizes["pool"])
    os.makedirs(out, exist_ok=True)
    paths = {"n_docs": len(corpus), "family_share": family_share(tc)}
    for name, df in (("corpus", corpus), ("truth_pairs", tp),
                     ("truth_clusters", tc)):
        p = os.path.join(out, f"{name}.parquet")
        df.to_parquet(p, index=False)
        paths[name] = p
    with open(meta + ".tmp", "w") as f:
        json.dump(paths, f)
    os.replace(meta + ".tmp", meta)
    return paths
