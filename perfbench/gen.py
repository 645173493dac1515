"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same seed writes
byte-identical files. The program under test only ever sees these files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

AMINO = np.frombuffer(b"ACDEFGHIKLMNPQRSTVWYXBUZO", dtype=np.uint8)
# the 20 standard residues carry almost all mass; X B U Z O are rare
AMINO_P = np.array([0.0396] * 20 + [0.006, 0.003, 0.0005, 0.0005, 0.002])
AMINO_P = AMINO_P / AMINO_P.sum()


def _strings(rng, alphabet, probs, lengths):
    """One string per length, characters drawn i.i.d. from `alphabet`."""
    chars = rng.choice(alphabet, size=int(lengths.sum()), p=probs)
    buf = chars.tobytes().decode("ascii")
    ends = np.cumsum(lengths)
    return [buf[e - n:e] for n, e in zip(lengths.tolist(), ends.tolist())]


def pfam_shards(out_dir, seed, rows, shards=12, families=2400):
    """Pfam-seed-shaped headerless CSV shards under train/ dev/ test/.

    Columns: sequence, family_accession, sequence_name, aligned_sequence,
    family_id. Class sizes are Zipf-like, lengths log-normal around the
    reference median of 119 (clipped to 4..2037), and every 400th row
    misses its aligned_sequence so the clean stage has rows to drop.
    Returns (rows written, bytes written).
    """
    rng = np.random.default_rng(seed)
    ranks = np.arange(1, families + 1)
    fam_p = 1.0 / ranks ** 1.1
    fam_p /= fam_p.sum()
    fam = rng.permutation(families)[rng.choice(families, size=rows, p=fam_p)]
    lengths = np.clip(np.round(rng.lognormal(np.log(119), 0.6, rows)), 4, 2037).astype(np.int64)
    seqs = _strings(rng, AMINO, AMINO_P, lengths)
    starts = rng.integers(1, 400, rows)
    lines = []
    for i in range(rows):
        s = seqs[i]
        f = int(fam[i])
        # gap-padded alignment: lower-case inserts and '.' gaps around the match
        aligned = "" if i % 400 == 0 else "." * (i % 3) + s.lower()[: 3] + s[3:] + "-" * (i % 2)
        lines.append(f"{s},PF{f:05d}.{1 + f % 9},P{i:07d}_SEQ/{starts[i]}-{starts[i] + len(s) - 1},{aligned},Fam_{f}")
    total = 0
    per = (rows + shards - 1) // shards
    for k in range(shards):
        split = ("train", "train", "train", "train", "train", "train", "train", "train", "dev", "dev", "test", "test")[k % 12]
        d = os.path.join(out_dir, split)
        os.makedirs(d, exist_ok=True)
        body = ("\n".join(lines[k * per:(k + 1) * per]) + "\n").encode("ascii")
        with open(os.path.join(d, f"data-{k:05d}-of-{shards:05d}"), "wb") as fh:
            fh.write(body)
        total += len(body)
    return rows, total


WORDS = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]


def _write(out_dir, name, cols):
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.table(cols), path, compression="snappy")
    return os.path.getsize(path)


def query_tables(out_dir, seed, scale):
    """The harness tables the query mix reads, `part` and `documents`, with
    the harness schemas (FIXTURES.md) at `scale` of its sf0.1 row counts.
    One parquet file per table, one row group. Returns (rows, bytes).
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_part, n_doc = int(20000 * scale), int(5000 * scale)
    part_bytes = _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    # words drawn from a 2000-word vocabulary, so unrelated documents share
    # few shingles; 5% are planted near duplicates (an original plus one
    # word) and 0.2% exact copies, always of originals, so duplicate
    # clusters are small stars whatever the seed
    vocab = WORDS + [f"w{i:04d}" for i in range(2000 - len(WORDS))]
    texts, originals = [], []
    for i in range(n_doc):
        r = rng.random()
        if originals and r < 0.05:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]] + " dup")
        elif originals and r < 0.052:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
        else:
            originals.append(i)
            texts.append(" ".join(vocab[w] for w in rng.integers(0, len(vocab), int(rng.integers(8, 100)))))
    doc_bytes = _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[l] for l in rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    return n_part + n_doc, part_bytes + doc_bytes
