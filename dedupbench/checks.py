"""Output checks against the planted truth of a workload."""

from __future__ import annotations

import pandas as pd

# pair_recall gate of scripts/smoke_m1.py: non-negative truth pairs at
# J >= GATE_J, plus `contain` pairs whose shared run reaches substr_len
GATE_J = 0.72
SUBSTR_LEN = 200      # DedupConfig.substr_len
MIN_RECALL = 0.99


def gate_pairs(truth_pairs: pd.DataFrame, with_substr: bool = True) -> pd.DataFrame:
    """Truth pairs the pipeline must join. Without an exact-substring
    pass (the stream runs none) only the J >= GATE_J pairs count."""
    tp = truth_pairs[truth_pairs.kind != "negative"]
    keep = tp.jaccard >= GATE_J
    if with_substr:
        keep |= (tp.kind == "contain") & (tp.run_bytes >= SUBSTR_LEN)
    return tp[keep]


def check_labels(labels: pd.DataFrame, expected_ids, truth_pairs: pd.DataFrame,
                 truth_clusters: pd.DataFrame,
                 with_substr: bool = True) -> tuple[list[str], float, float]:
    """labels (doc_id, cluster_id) for exactly ``expected_ids``.

    Returns (problems, pair_recall, cluster_purity); an empty problem
    list means the operation's output is correct."""
    problems = []
    expected = pd.Index(expected_ids)
    if labels.doc_id.duplicated().any():
        problems.append(f"{int(labels.doc_id.duplicated().sum())} docs carry more than one label")
    got = pd.Index(labels.doc_id.unique())
    missing, extra = expected.difference(got), got.difference(expected)
    if len(missing) or len(extra):
        problems.append(f"{len(missing)} docs unlabelled, {len(extra)} unknown docs labelled")

    lmap = labels.drop_duplicates("doc_id").set_index("doc_id").cluster_id
    gate = gate_pairs(truth_pairs, with_substr)
    gate = gate[gate.src.isin(lmap.index) & gate.dst.isin(lmap.index)]
    hit = (lmap.reindex(gate.src).to_numpy() == lmap.reindex(gate.dst).to_numpy()).sum()
    recall = hit / len(gate) if len(gate) else 1.0
    if recall < MIN_RECALL:
        problems.append(f"pair_recall {recall:.4f} < {MIN_RECALL}")

    fam = truth_clusters.drop_duplicates("doc_id").set_index("doc_id").family_id
    df = pd.DataFrame({"cluster_id": lmap.to_numpy(),
                       "family_id": fam.reindex(lmap.index).to_numpy()})
    families_per_cluster = df.groupby("cluster_id").family_id.nunique()
    purity = float((df.cluster_id.map(families_per_cluster) == 1).mean()) if len(df) else 1.0
    return problems, float(recall), purity
