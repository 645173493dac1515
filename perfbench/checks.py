"""Checks of the pipeline lake the batch workload writes, read back from disk.

The invariants pinned by StagesSpec: row conservation (raw = train + dev +
test + dropped), dense label codes in lexicographic order of the accession,
class weights n_min / n_c over the train split, and curated rows of exactly
max_length tokens starting with CLS.
"""
import glob
import os

import pandas as pd
import pyarrow.compute as pc
import pyarrow.dataset as ds

MAX_LENGTH = 1024  # EsmTokenizer.DefaultMaxLength
CLS_ID = 0


def _csv(path):
    parts = sorted(glob.glob(os.path.join(path, "part-*.csv")))
    frames = [pd.read_csv(p, dtype=str, keep_default_na=False) for p in parts]
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()


def raw_counts(input_dir):
    """(rows, rows with an empty or missing field) over the input shards."""
    rows = dropped = 0
    for f in glob.glob(os.path.join(input_dir, "*", "*")):
        with open(f) as fh:
            for line in fh:
                fields = line.rstrip("\n").split(",")
                rows += 1
                dropped += len(fields) != 5 or any(v == "" for v in fields)
    return rows, dropped


def ingest(raw, lake):
    """Problems found in one pass's lake root; empty when it is correct."""
    rows, dropped = raw
    problems = []
    staging, curated = os.path.join(lake, "staging"), os.path.join(lake, "curated")
    splits = {s: _csv(os.path.join(staging, f"preprocessed_{s}")) for s in ("train", "dev", "test")}
    n_split = sum(len(df) for df in splits.values())
    if rows != n_split + dropped:
        problems.append(f"rows: raw {rows} != splits {n_split} + dropped {dropped}")
    mapping = _csv(os.path.join(staging, "label_mapping")).sort_values("family_accession")
    if mapping["class_encoded"].astype(int).tolist() != list(range(len(mapping))):
        problems.append("label codes are not dense in accession order")
    counts = splits["train"]["class_encoded"].astype(int).value_counts()
    weights = _csv(os.path.join(staging, "class_weights"))
    got = dict(zip(weights["class_encoded"].astype(int), weights["weight"].astype(float)))
    want = {c: counts.min() / n for c, n in counts.items()}
    if set(got) != set(want) or any(abs(got[c] - want[c]) > 5.1e-7 for c in want):
        problems.append("class weights differ from n_min / n_c")
    for s, df in splits.items():
        tokens = ds.dataset(os.path.join(curated, f"tokenized_{s}"), format="parquet").to_table(columns=["tokens"])["tokens"]
        if len(tokens) != len(df):
            problems.append(f"curated {s}: {len(tokens)} rows, staging has {len(df)}")
        elif len(tokens) and (pc.min(pc.list_value_length(tokens)).as_py() != MAX_LENGTH
                              or pc.max(pc.list_value_length(tokens)).as_py() != MAX_LENGTH
                              or not pc.all(pc.equal(pc.list_element(tokens, 0), CLS_ID)).as_py()):
            problems.append(f"curated {s}: rows are not {MAX_LENGTH} tokens starting with CLS")
    return problems
