"""Measure the properties of a parquet test-data directory that the
corpus_ops generator reproduces.

    python3 perfbench/profile_data.py <parquet dir> > perfbench/sf01_profile.json

``sf01_profile.json`` is this script's output on the repository's sf0.1
test data (TESTDATA.md). ``corpus.generate`` draws every table from it,
and ``--compare`` checks a generated directory against it::

    python3 perfbench/profile_data.py <generated dir> --compare perfbench/sf01_profile.json

Per column the profile holds what a generator needs: the arrow type, a
value-share table when the column has at most ``LOW_CARDINALITY``
values, an ``index`` pattern when each value is a prefix plus the
zero-padded row number, and otherwise the range, distinct count,
decimal places and ``QUANTILES`` quantiles. ``documents.text`` gets a
text profile (vocabulary, words per document, near duplicates, e-mail,
phone, IP and punctuation counts), ``events.ts`` its ordering and
``embeddings.embedding`` its dimension, norm and the cosine of each
vector to its label's centroid.
"""

from __future__ import annotations

import argparse
import json
import os
import re
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
LOW_CARDINALITY = 128
QUANTILES = 100
DUP_TOKEN = "dup"
PII = {
    "emails": r"[\w.+-]+@[\w-]+\.[\w.]+",
    "phones": r"\+?\d[\d ()-]{7,}\d",
    "ips": r"\b\d{1,3}(?:\.\d{1,3}){3}\b",
    "punctuation": r"[^\w\s]",
    "digits": r"\d",
}


def _decimals(values: np.ndarray) -> int:
    for places in range(7):
        if np.allclose(values, np.round(values, places), rtol=0, atol=1e-9):
            return places
    return 7


def _index_pattern(values: list[str]) -> dict | None:
    """{"prefix", "width"} when value i is prefix + str(i).zfill(width)."""
    m = re.fullmatch(r"(.*?)(\d+)", values[0])
    if not m or int(m.group(2)) != 0:
        return None
    prefix, width = m.group(1), len(m.group(2))
    if all(v == f"{prefix}{i:0{width}d}" for i, v in enumerate(values)):
        return {"prefix": prefix, "width": width}
    return None


def column_profile(col: pa.ChunkedArray) -> dict:
    kind = col.type
    out: dict = {"type": str(kind), "nulls": col.null_count}
    if pa.types.is_list(kind):
        return out
    if pa.types.is_timestamp(kind):
        us = col.cast(pa.int64()).to_numpy()
        out.update({"min_us": int(us.min()), "max_us": int(us.max()),
                    "distinct": int(len(np.unique(us))),
                    "midnight_only": bool((us % 86_400_000_000 == 0).all()),
                    "sorted": bool((np.diff(us) >= 0).all())})
        return out
    values = col.to_pylist()
    counts = Counter(values)
    out["distinct"] = len(counts)
    if pa.types.is_string(kind):
        pattern = _index_pattern(values) if len(counts) == len(values) else None
        if pattern:
            out["index"] = pattern
        elif len(counts) <= LOW_CARDINALITY:
            out["shares"] = {str(v): c / len(values) for v, c in sorted(counts.items())}
        else:
            lengths = [len(v) for v in values]
            out.update({"min_len": min(lengths), "max_len": max(lengths)})
        return out
    arr = np.asarray(values, dtype=np.float64)
    if len(counts) == len(values) and (np.sort(arr) == np.arange(len(arr))).all():
        out["index"] = {"start": 0}
    elif len(counts) <= LOW_CARDINALITY:
        out["shares"] = {repr(v): c / len(values) for v, c in sorted(counts.items())}
    else:
        out.update({"min": float(arr.min()), "max": float(arr.max()), "mean": float(arr.mean()),
                    "decimals": _decimals(arr),
                    "quantiles": np.quantile(arr, np.linspace(0, 1, QUANTILES + 1)).tolist()})
    return out


def text_profile(texts: list[str]) -> dict:
    words = [t.split() for t in texts]
    vocab = Counter(w for ws in words for w in ws if w != DUP_TOKEN)
    dup_docs = [i for i, ws in enumerate(words) if DUP_TOKEN in ws]
    # A near duplicate is another document's text plus a trailing DUP_TOKEN.
    suffix = " " + DUP_TOKEN
    docs_by_text: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        docs_by_text.setdefault(t, []).append(i)
    copies = sum(any(j != i for j in docs_by_text.get(texts[i].removesuffix(suffix), ()))
                 for i in dup_docs)
    joined = "\n".join(texts)
    share = lambda k: k / max(1, len(dup_docs))  # noqa: E731
    return {
        "vocabulary": dict(sorted(vocab.items())),
        "words_per_doc": dict(sorted(Counter(len(ws) for ws in words if DUP_TOKEN not in ws).items())),
        "near_duplicate_share": len(dup_docs) / len(texts),
        "near_duplicate_ends_with_dup": share(sum(ws[-1] == DUP_TOKEN for ws in (words[i] for i in dup_docs))),
        "near_duplicate_is_another_doc_plus_dup": share(copies),
        "dup_tokens_per_near_duplicate": dict(sorted(Counter(
            words[i].count(DUP_TOKEN) for i in dup_docs).items())),
        "exact_duplicate_texts": len(texts) - len(docs_by_text),
        "pattern_matches": {name: len(re.findall(rx, joined)) for name, rx in PII.items()},
        "n_chars_is_len_text": None,  # filled in by profile()
    }


def vector_profile(vectors: pa.ChunkedArray, labels: pa.ChunkedArray) -> dict:
    m = np.stack(vectors.to_numpy(zero_copy_only=False)).astype(np.float64)
    lab = labels.to_numpy()
    cos = []
    for label in np.unique(lab):
        members = m[lab == label]
        centroid = members.mean(axis=0)
        cos.append(float((members @ (centroid / np.linalg.norm(centroid))).mean()))
    return {"dim": int(m.shape[1]), "norm_mean": float(np.linalg.norm(m, axis=1).mean()),
            "label_centroid_cosine": float(np.mean(cos))}


def profile(data_dir: str) -> dict:
    tables = {}
    for name in TABLES:
        table = pq.read_table(f"{data_dir}/{name}.parquet")
        tables[name] = {"rows": table.num_rows,
                        "columns": {c: column_profile(table[c]) for c in table.column_names}}
        if name == "documents":
            text = tables[name]["columns"]["text"]
            text.update(text_profile(table["text"].to_pylist()))
            text["n_chars_is_len_text"] = bool(pc.all(pc.equal(
                pc.utf8_length(table["text"]), table["n_chars"].cast(pa.int32()))).as_py())
        if name == "embeddings":
            tables[name]["columns"]["embedding"].update(
                vector_profile(table["embedding"], table["label"]))
    return {"measured_from": os.path.basename(os.path.normpath(data_dir)), "tables": tables}


def compare(got: dict, want: dict) -> list[str]:
    """The figures in which a generated directory's profile departs from
    the measured one by more than sampling noise."""
    problems = []

    def close(path, a, b, tol):
        if a is None or abs(a - b) > tol:
            problems.append(f"{path}: {a!r}, measured {b!r}")

    for name, w_table in want["tables"].items():
        g_table = got["tables"].get(name, {"rows": None, "columns": {}})
        close(f"{name}.rows", g_table["rows"], w_table["rows"], 0)
        for col, w in w_table["columns"].items():
            g, path = g_table["columns"].get(col, {}), f"{name}.{col}"
            if g.get("type") != w["type"]:
                problems.append(f"{path}: type {g.get('type')}, measured {w['type']}")
            for key in ("index", "decimals", "midnight_only", "sorted", "dim", "pattern_matches",
                        "n_chars_is_len_text"):
                if key in w and g.get(key) != w[key]:
                    problems.append(f"{path}.{key}: {g.get(key)!r}, measured {w[key]!r}")
            for key in ("shares", "vocabulary"):
                if key in w and set(g.get(key, ())) != set(w[key]):
                    problems.append(f"{path}.{key}: other values than measured")
            for value, share in w.get("shares", {}).items():
                close(f"{path}.shares[{value}]", g.get("shares", {}).get(value), share, 0.02)
            if "min" in w:
                span = w["max"] - w["min"]
                for key in ("min", "max", "mean"):
                    close(f"{path}.{key}", g.get(key), w[key], 0.02 * span)
            if "min_us" in w:
                span = w["max_us"] - w["min_us"]
                for key in ("min_us", "max_us"):
                    close(f"{path}.{key}", g.get(key), w[key], 0.01 * span)
            for key, tol in (("near_duplicate_share", 0.005), ("near_duplicate_ends_with_dup", 0.0),
                             ("near_duplicate_is_another_doc_plus_dup", 0.05),
                             ("norm_mean", 1e-3), ("label_centroid_cosine", 0.02)):
                if key in w:
                    close(f"{path}.{key}", g.get(key), w[key], tol)
    return problems


def dumps(prof: dict) -> str:
    """JSON with one line per column."""
    tables = ",\n".join(
        f'  {json.dumps(name)}: {{"rows": {t["rows"]}, "columns": {{\n'
        + ",\n".join(f"   {json.dumps(col)}: {json.dumps(c)}" for col, c in t["columns"].items())
        + "}}"
        for name, t in prof["tables"].items())
    return f'{{"measured_from": {json.dumps(prof["measured_from"])}, "tables": {{\n{tables}\n}}}}'


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("data_dir")
    p.add_argument("--compare", help="a profile to compare the directory's profile with")
    args = p.parse_args(argv)
    prof = profile(args.data_dir)
    if args.compare is None:
        print(dumps(prof))
        return 0
    with open(args.compare) as fh:
        problems = compare(prof, json.load(fh))
    print("\n".join(problems) or "profiles agree")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
