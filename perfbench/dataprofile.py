"""Shape profile of a directory of TPC-H-ish tables, to compare the
tables ``sfgen`` generates with the engine's test data.

    python3 perfbench/dataprofile.py <dir> [--out profile.json]
    python3 perfbench/dataprofile.py <dir> --against <profile.json>

A profile holds, per table, the row count and per column the Arrow
type, the share of distinct values and the quantiles of numbers and
string lengths; for the foreign keys the share of the key range used
and the skew (the 99th percentile of rows per key over the mean); and
for the text, events and embedding tables the figures the dedup,
similarity, text and temporal queries depend on: vocabulary size, words
per document, exact and near-duplicate shares, the timestamp unit
stored in the file, events per user, vector norms and label spread.

``compare`` lists every figure that differs by more than a tolerance;
``perfbench/tests/test_sfgen_fit.py`` holds the generator to the
committed profile of the test data,
``perfbench/tests/data/testdata_sf0.01_profile.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
# foreign key -> the table whose row count bounds it
FOREIGN_KEYS = {
    ("orders", "o_custkey"): "customer",
    ("lineitem", "l_orderkey"): "orders",
    ("lineitem", "l_partkey"): "part",
    ("lineitem", "l_suppkey"): "supplier",
    ("events", "user_id"): None,
}
QUANTILES = (0.01, 0.1, 0.5, 0.9, 0.99)  # extremes vary too much run to run
NEAR_DUP_JACCARD = 0.9  # 3-shingle similarity that counts as a near copy


def _q(values: np.ndarray) -> list[float]:
    if len(values) == 0:
        return []
    return [round(float(v), 6) for v in np.quantile(values.astype(np.float64), QUANTILES)]


def _column(col: pa.ChunkedArray) -> dict:
    out = {"type": str(col.type), "nulls": col.null_count / max(len(col), 1)}
    t = col.type
    if pa.types.is_list(t) or pa.types.is_fixed_size_list(t):
        return out
    out["distinct_share"] = round(pc.count_distinct(col).as_py() / max(len(col), 1), 6)
    if pa.types.is_string(t):
        out["length_q"] = _q(pc.utf8_length(col).to_numpy())
        out["distinct"] = pc.count_distinct(col).as_py()
    elif pa.types.is_timestamp(t):
        out["days_q"] = _q(col.cast(pa.int64()).to_numpy() / _per_day(t))
    else:
        out["value_q"] = _q(col.to_numpy())
    return out


def _per_day(t: pa.TimestampType) -> float:
    return 86_400 * {"s": 1, "ms": 1e3, "us": 1e6, "ns": 1e9}[t.unit]


def _key_skew(keys: np.ndarray, key_range: int) -> dict:
    _, counts = np.unique(keys, return_counts=True)
    return {
        "range_used": round(len(counts) / key_range, 4),
        "p99_over_mean": round(float(np.quantile(counts, 0.99) / counts.mean()), 3),
    }


def _near_dup_share(texts: list[str]) -> float:
    """Share of documents with another document whose word-3-shingle
    set has a Jaccard similarity of at least ``NEAR_DUP_JACCARD``
    (dense pairwise: small scales only)."""
    index: dict[str, int] = {}
    sets = []
    for t in texts:
        w = t.split()
        sets.append({index.setdefault(" ".join(w[i:i + 3]), len(index))
                     for i in range(len(w) - 2)})
    m = np.zeros((len(texts), len(index)), np.float32)
    for i, s in enumerate(sets):
        m[i, list(s)] = 1.0
    inter = m @ m.T
    size = m.sum(axis=1)
    jac = inter / np.maximum(size[:, None] + size[None, :] - inter, 1.0)
    np.fill_diagonal(jac, 0.0)
    return float((jac.max(axis=1) >= NEAR_DUP_JACCARD).mean())


def _documents(tb: pa.Table) -> dict:
    texts = tb["text"].to_pylist()
    lengths = np.array([len(t.split()) for t in texts])
    vocab: dict[str, int] = {}
    for t in texts:
        for w in t.split():
            vocab[w] = vocab.get(w, 0) + 1
    freq = np.sort(np.array(list(vocab.values())))[::-1]
    langs = tb["lang"].value_counts().to_pylist()
    return {
        "vocabulary": len(vocab),
        "top_word_share": round(float(freq[0] / freq.sum()), 4),
        "words_q": _q(lengths),
        "exact_dup_share": round(1 - len(set(texts)) / len(texts), 4),
        "near_dup_share": round(_near_dup_share(texts), 4),
        "lang_shares": {d["values"]: round(d["counts"] / len(texts), 3)
                        for d in sorted(langs, key=lambda d: d["values"])},
        "sources": len(set(tb["source"].to_pylist())),
    }


def _events(path: str, tb: pa.Table) -> dict:
    stored = pq.ParquetFile(path).schema_arrow.field("ts").type
    ts = tb["ts"].cast(pa.int64()).to_numpy()
    per_user = np.unique(tb["user_id"].to_numpy(), return_counts=True)[1]
    return {
        "ts_unit_stored": stored.unit,
        "ts_sorted": bool(np.all(np.diff(ts) >= 0)),
        "span_days": round(float((ts.max() - ts.min()) / _per_day(stored)), 3),
        "events_per_user_q": _q(per_user),
        "type_shares": {d["values"]: round(d["counts"] / len(ts), 3)
                        for d in sorted(tb["event_type"].value_counts().to_pylist(),
                                        key=lambda d: d["values"])},
    }


def _embeddings(tb: pa.Table) -> dict:
    """Vector norms, pairwise cosines, the variance share of the
    leading direction (1/dim when isotropic), and how close each vector
    lies to its label's centroid (about 1/sqrt(rows per label) when the
    labels carry no signal)."""
    v = np.stack(tb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
    label = tb["label"].to_numpy()
    norms = np.linalg.norm(v, axis=1)
    unit = v / norms[:, None]
    cos = unit @ unit.T
    sv = np.linalg.svd(unit, compute_uv=False) ** 2
    own = []
    for lab in np.unique(label):
        c = unit[label == lab].mean(axis=0)
        own.append(unit[label == lab] @ (c / np.linalg.norm(c)))
    return {
        "dim": int(v.shape[1]),
        "labels": int(len(np.unique(label))),
        "norm_q": _q(norms),
        "pairwise_cos_q": _q(cos[np.triu_indices(len(v), 1)]),
        "top_direction_share": round(float(sv[0] / sv.sum()), 4),
        "cos_to_label_centroid_q": _q(np.concatenate(own)),
    }


def profile(directory: str) -> dict:
    tables = {t: pq.read_table(os.path.join(directory, f"{t}.parquet")) for t in TABLES}
    out: dict = {"rows": {t: tb.num_rows for t, tb in tables.items()}, "columns": {}}
    for t, tb in tables.items():
        out["columns"][t] = {f.name: _column(tb[f.name]) for f in tb.schema}
    out["keys"] = {}
    for (t, c), ref in FOREIGN_KEYS.items():
        keys = tables[t][c].to_numpy()
        key_range = tables[ref].num_rows if ref else int(keys.max()) + 1
        out["keys"][f"{t}.{c}"] = _key_skew(keys, key_range)
    out["documents"] = _documents(tables["documents"])
    out["events"] = _events(os.path.join(directory, "events.parquet"), tables["events"])
    out["embeddings"] = _embeddings(tables["embeddings"])
    return out


def compare(got: dict, ref: dict, rel: float = 0.15, path: str = "") -> list[str]:
    """Every figure of ``ref`` that ``got`` misses or differs from.
    A number may differ by ``rel`` of the reference, a share (0..1) by
    ``rel / 3`` absolute; a quantile list (``*_q``) element-wise by
    ``rel`` of the reference's range (at least 1 for whole numbers);
    anything else must be equal."""
    diffs = []
    for k, r in ref.items():
        p = f"{path}.{k}" if path else k
        g = got.get(k)
        if g is None:
            diffs.append(f"{p}: missing")
            continue
        if isinstance(r, dict):
            diffs.extend(compare(g, r, rel, p))
            continue
        if k.endswith("_q"):
            tol = rel * (r[-1] - r[0])
            if all(float(x).is_integer() for x in r):
                tol = max(tol, 1.0)
            ok = len(g) == len(r) and all(abs(x - y) <= tol for x, y in zip(g, r))
        elif isinstance(r, (int, float)) and not isinstance(r, bool):
            share = 0 <= r <= 1 and not isinstance(r, int)
            ok = abs(g - r) <= (rel / 3 if share else rel * abs(r))
        else:
            ok = g == r
        if not ok:
            diffs.append(f"{p}: {g} vs {r}")
    return diffs


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("directory")
    ap.add_argument("--out")
    ap.add_argument("--against", help="a committed profile to compare with")
    ap.add_argument("--rel", type=float, default=0.15)
    args = ap.parse_args(argv)
    prof = profile(args.directory)
    text = json.dumps(prof, indent=1, sort_keys=True)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    if args.against:
        with open(args.against) as f:
            diffs = compare(prof, json.load(f), args.rel)
        print("\n".join(diffs) or "profiles agree")
        return 1 if diffs else 0
    if not args.out:
        print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
