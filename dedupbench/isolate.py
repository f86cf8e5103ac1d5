"""Per-stage walls in isolation: each stage runs over checkpointed
inputs into Spark's ``noop`` sink, so its wall is its own compute, not
its upstream's or the sink's. Each timed run is a tracer span, so the
event log attributes its shuffle bytes and task walls to it."""

from __future__ import annotations

import dataclasses
import time

from pyspark.sql import Observation, functions as F


def _timed(tracer, name: str, build) -> tuple[float, int, int]:
    """``build`` makes the stage's frame inside the timed span: some
    stages (CC) do eager work while building it."""
    obs = Observation()
    with tracer.span(f"iso.{name}") as sid:
        t0 = time.perf_counter()
        df = build().observe(obs, F.count(F.lit(1)).alias("n"))
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
    return wall, obs.get["n"], sid


def kernel_seconds(docs, cfg) -> float:
    """Single-core wall of the fused signature kernel over the stage's
    input, fed in the session's Arrow batch size; no Spark involved."""
    from miekki.kernels import make_text_signature_kernel

    rows = int(docs.sparkSession.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch"))
    batches = docs.select("doc_id", "norm_text").toArrow().to_batches(rows)
    kernel = make_text_signature_kernel(cfg)
    t0 = time.perf_counter()
    for _ in kernel(iter(batches)):
        pass
    return time.perf_counter() - t0


def stage_walls(tracer, corpus, cfg) -> tuple[dict, dict]:
    """Returns ({metric: value}, {stage name: span id}) for one corpus."""
    from miekki.stages import cc as cc_mod
    from miekki.stages.canonical import select_canonical
    from miekki.stages.lsh import band_table, star_edges
    from miekki.stages.normalize import normalize
    from miekki.stages.signatures import signatures_from_text
    from miekki.stages.simhash import simhash_candidate_edges
    from miekki.stages.substr import (anchor_table, candidate_anchor_pairs,
                                      substr_candidate_edges)
    from miekki.stages.verify import verify_edges

    m, spans = {}, {}

    def timed(name, build):
        wall, n, spans[name] = _timed(tracer, name, build)
        m[f"{name}.wall_s"] = wall
        return n

    corpus = corpus.localCheckpoint()
    timed("normalize", lambda: normalize(corpus, cfg))
    docs = normalize(corpus, cfg).localCheckpoint()

    def identity(batches):  # nested, so it pickles by value for the workers
        yield from batches

    text = docs.select("doc_id", "norm_text")
    timed("signatures", lambda: signatures_from_text(docs, cfg))
    m["signatures.boundary_s"] = _timed(
        tracer, "signatures.boundary",
        lambda: text.mapInArrow(identity, text.schema))[0]
    m["signatures.kernel_s"] = kernel_seconds(docs, cfg)
    sigs = signatures_from_text(docs, cfg).localCheckpoint()

    timed("lsh.band_table", lambda: band_table(sigs, cfg))
    bands = band_table(sigs, cfg).localCheckpoint()
    keys = ["band_id", "band_hash"]
    n_cand = timed("lsh.star_edges", lambda: star_edges(bands, keys, cfg))
    m["lsh.candidates"] = n_cand
    cand = star_edges(bands, keys, cfg).localCheckpoint()

    n_ver = timed("verify", lambda: verify_edges(cand, sigs, cfg))
    m["verify.yield"] = n_ver / max(n_cand, 1)

    n_sim = timed("simhash", lambda: simhash_candidate_edges(sigs, cfg))
    # every candidate passes a Hamming bound of the full width, so this
    # counts the candidates the real bound filters
    all_cfg = dataclasses.replace(cfg, hamming_max=cfg.simhash_bits)
    m["simhash.candidates"] = simhash_candidate_edges(sigs, all_cfg).count()
    m["simhash.yield"] = n_sim / max(m["simhash.candidates"], 1)

    n_sub = timed("substr", lambda: substr_candidate_edges(docs, cfg))
    m["substr.anchor_rows"] = timed("substr.anchors", lambda: anchor_table(docs, cfg))
    anchors = anchor_table(docs, cfg).localCheckpoint()
    n_pairs = timed("substr.pairs", lambda: candidate_anchor_pairs(anchors, cfg))
    m["substr.yield"] = n_sub / max(n_pairs, 1)

    edges = (verify_edges(cand, sigs, cfg)
             .unionByName(simhash_candidate_edges(sigs, cfg))
             .unionByName(substr_candidate_edges(docs, cfg))
             .select("src", "dst").dropDuplicates(["src", "dst"])
             .localCheckpoint())
    ids = docs.select("doc_id").localCheckpoint()
    m["cc.edges_in"] = edges.count()
    timed("cc", lambda: cc_mod.cc_labels(edges, ids))
    m["cc.rounds"] = cc_mod.LAST_ROUNDS
    labels = cc_mod.cc_labels(edges, ids).localCheckpoint()

    meta = (docs.select("doc_id", "url")
            .join(corpus.select("url", "warc_ts"), "url"))
    timed("canonical", lambda: select_canonical(labels, meta))
    return m, spans
