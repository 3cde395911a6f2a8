"""Seeded input generators for the perfbench workloads.

Every workload's inputs come from here and only from ``--seed``: the same
seed gives byte-identical files. The generators live with the benchmark so
that a cleanup elsewhere in the repository cannot silently change a
workload. Nothing here imports the engine; the engine only ever sees the
files these functions write.

- :func:`genome_set` — full-length (29,903 nt) genomes drawn from a seeded
  evolved tree, with ``date``/``country``/``pango_lineage`` metadata, a
  lineage definition, interior ``N`` runs and insertions, split into a
  base batch and an appended batch (``serve_light``).
- :func:`amplicon_reads` — 200-nt short reads cut from an evolved set at
  100 evenly spaced amplicon windows, split into a base batch and an
  appended batch (``serve_heavy``).
- :func:`curation_corpus` — ``documents`` and ``embeddings`` tables in the
  schema of the repository's scale-factor corpus, with planted exact and
  near duplicates (``curation_batch``).
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np

GENOME_LENGTH = 29_903
BASES = np.frombuffer(b"ACGT", dtype=np.uint8)
N_BYTE = ord("N")
COUNTRIES = ["Switzerland", "Germany", "France", "Italy", "Austria",
             "Spain", "Denmark", "Norway"]
COUNTRY_WEIGHTS = [0.30, 0.20, 0.15, 0.10, 0.08, 0.07, 0.05, 0.05]
INSERT_STRINGS = ["GAGCCAGAA", "TTTAC", "ACGTTG", "CAC"]


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _evolve(rng: np.random.Generator, root: np.ndarray, generations: int,
            children: int, rate: float, death: float):
    """SequenceTreeGenerator-style tree: each child re-mutates its parent at
    ``rate`` per position. Returns (sequences, parent index, depth)."""
    seqs, parents, depths = [root], [-1], [0]
    current = [0]
    for gen in range(1, generations + 1):
        nxt = []
        for idx in current:
            for _ in range(children):
                if rng.random() < death:
                    continue
                child = seqs[idx].copy()
                k = rng.binomial(child.size, rate)
                pos = rng.integers(0, child.size, size=k)
                child[pos] = BASES[rng.integers(0, 4, size=k)]
                seqs.append(child)
                parents.append(idx)
                depths.append(gen)
                nxt.append(len(seqs) - 1)
        current = nxt or current
    return seqs, parents, depths


def _write_ndjson(path: str, rows) -> int:
    with open(path, "w") as fh:
        for row in rows:
            fh.write(json.dumps(row, separators=(",", ":")))
            fh.write("\n")
    return os.path.getsize(path)


def _write_config(path: str, primary_key: str, metadata: dict[str, str]) -> None:
    lines = ["schema:", "  instanceName: perfbench",
             f"  primaryKey: {primary_key}", "  metadata:",
             f"    - name: {primary_key}", "      type: string"]
    for name, typ in metadata.items():
        lines += [f"    - name: {name}", f"      type: {typ}"]
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")


def _write_reference(path: str, reference: str) -> None:
    with open(path, "w") as fh:
        json.dump({"nucleotideSequences": [
            {"name": "main", "sequence": reference}], "genes": []}, fh)


@dataclass
class GenomeSet:
    """``serve_light`` inputs plus the in-memory records the pure-Python
    evaluator runs the queries over."""

    reference: str
    records: list[dict]
    lineage_parents: dict[str, list[str]]
    lineage_aliases: dict[str, str]
    mutated_positions: list[int]
    insertion_positions: list[int]
    files: dict[str, str] = field(default_factory=dict)
    sizes: dict[str, int] = field(default_factory=dict)


def genome_set(seed: int, out_dir: str, n_genomes: int,
               append_share: float = 0.2) -> GenomeSet:
    rng = _rng(seed, 1)
    ref = BASES[rng.integers(0, 4, GENOME_LENGTH)]
    seqs, parents, depths = _evolve(rng, ref, generations=5, children=3,
                                    rate=3e-4, death=0.15)
    # lineage names follow the tree down to depth 3; deeper nodes inherit
    names: list[str] = []
    for i, (p, d) in enumerate(zip(parents, depths)):
        if p < 0:
            names.append("A")
        elif d <= 3:
            sibling = sum(1 for j in range(i) if parents[j] == p) + 1
            names.append(f"{names[p]}.{sibling}")
        else:
            names.append(names[p])
    lineage_parents: dict[str, list[str]] = {}
    for i, p in enumerate(parents):
        if names[i] not in lineage_parents:
            lineage_parents[names[i]] = [] if p < 0 else [names[p]]
    aliased = sorted(n for n in lineage_parents if n.count(".") == 3)
    lineage_aliases = {"B": aliased[0]} if aliased else {}

    leaves = [i for i, d in enumerate(depths) if d >= 3]
    start = dt.date(2021, 1, 1)
    country_idx = rng.choice(len(COUNTRIES), n_genomes, p=COUNTRY_WEIGHTS)
    node_idx = rng.choice(leaves, n_genomes)
    days = rng.integers(0, 365, n_genomes)
    records, rows = [], []
    for i in range(n_genomes):
        seq = seqs[node_idx[i]].copy()
        k = rng.poisson(1.0)
        if k:
            seq[rng.integers(0, GENOME_LENGTH, k)] = BASES[rng.integers(0, 4, k)]
        if rng.random() < 0.1:
            lo = int(rng.integers(100, GENOME_LENGTH - 400))
            seq[lo:lo + int(rng.integers(50, 300))] = N_BYTE
        text = seq.tobytes().decode()
        ins: dict[int, list[str]] = {}
        if rng.random() < 0.08:
            pos = [11_000, 22_204, 27_000][int(rng.integers(0, 3))]
            ins[pos] = [INSERT_STRINGS[int(rng.integers(0, len(INSERT_STRINGS)))]]
        key = f"g{i:06d}"
        meta = {
            "primary_key": key,
            "date": (start + dt.timedelta(days=int(days[i]))).isoformat(),
            "country": COUNTRIES[country_idx[i]],
            "pango_lineage": names[node_idx[i]],
        }
        records.append({**meta, "_seq": {"main": text}, "_aa": {},
                        "_nuc_ins": {"main": ins}, "_aa_ins": {},
                        "_unaligned": {}})
        rows.append({**meta, "main": {
            "sequence": text,
            "insertions": [f"{p}:{v}" for p, vs in ins.items() for v in vs],
        }})

    # positions that differ from the reference in some tree node: query
    # parameters land where the answer is neither empty nor everything
    diff = np.zeros(GENOME_LENGTH, dtype=np.int64)
    for i in set(node_idx.tolist()):
        diff += seqs[i] != ref
    mutated = [int(p) + 1 for p in np.nonzero(diff)[0]]

    n_base = n_genomes - int(n_genomes * append_share)
    os.makedirs(out_dir, exist_ok=True)
    files = {k: os.path.join(out_dir, v) for k, v in (
        ("input", "genomes_base.ndjson"), ("append", "genomes_append.ndjson"),
        ("config", "database_config.yaml"),
        ("reference", "reference_genomes.json"),
        ("lineage", "lineage_definition.yaml"))}
    ndjson_bytes = (_write_ndjson(files["input"], rows[:n_base])
                    + _write_ndjson(files["append"], rows[n_base:]))
    _write_config(files["config"], "primary_key",
                  {"date": "date", "country": "string",
                   "pango_lineage": "string"})
    reference = ref.tobytes().decode()
    _write_reference(files["reference"], reference)
    with open(files["lineage"], "w") as fh:
        for name, ps in lineage_parents.items():
            aliases = [a for a, c in lineage_aliases.items() if c == name]
            fh.write(f"{name}:\n  parents: {json.dumps(ps)}\n")
            if aliases:
                fh.write(f"  aliases: {json.dumps(aliases)}\n")
    return GenomeSet(
        reference=reference, records=records,
        lineage_parents=lineage_parents, lineage_aliases=lineage_aliases,
        mutated_positions=mutated, insertion_positions=[11_000, 22_204, 27_000],
        files=files,
        sizes={"rows": n_genomes, "base_rows": n_base,
               "append_rows": n_genomes - n_base, "ndjson_bytes": ndjson_bytes,
               "distinct_sequences": len({r["_seq"]["main"] for r in records}),
               "tree_nodes": len(seqs), "lineages": len(lineage_parents)},
    )


@dataclass
class ReadSet:
    """``serve_heavy`` inputs plus the arrays the numpy oracle counts over."""

    reference: np.ndarray          # uint8[L]
    reads: np.ndarray              # uint8[n, read_length]
    offsets: np.ndarray            # 0-based start of each read
    days: np.ndarray               # day index from 2024-01-01
    countries: np.ndarray          # index into COUNTRIES
    insertions: list[tuple[int, int, str]]  # (row, position, inserted)
    n_base: int
    files: dict[str, str] = field(default_factory=dict)
    sizes: dict[str, int] = field(default_factory=dict)


def amplicon_reads(seed: int, out_dir: str, n_reads: int,
                   append_share: float = 0.2, read_length: int = 200,
                   n_amplicons: int = 100) -> ReadSet:
    rng = _rng(seed, 2)
    ref = BASES[rng.integers(0, 4, GENOME_LENGTH)]
    seqs, _parents, depths = _evolve(rng, ref, generations=5, children=3,
                                     rate=1e-3, death=0.1)
    leaves = np.array([i for i, d in enumerate(depths) if d >= 3])
    span = GENOME_LENGTH - read_length
    starts = np.array([k * span // (n_amplicons - 1)
                       for k in range(n_amplicons)])
    node_idx = leaves[rng.integers(0, leaves.size, n_reads)]
    offsets = starts[rng.integers(0, n_amplicons, n_reads)]
    evolved = np.stack(seqs)
    cols = offsets[:, None] + np.arange(read_length)[None, :]
    reads = evolved[node_idx[:, None], cols]
    # one sequencing error on a third of the reads keeps reads distinct
    err = np.nonzero(rng.random(n_reads) < 0.3)[0]
    reads[err, rng.integers(0, read_length, err.size)] = \
        BASES[rng.integers(0, 4, err.size)]
    days = rng.integers(0, 14, n_reads)
    countries = rng.choice(4, n_reads)
    ins_rows = np.nonzero(rng.random(n_reads) < 0.03)[0]
    insertions = [(int(r), int(offsets[r]) + 100,
                   INSERT_STRINGS[int(rng.integers(0, len(INSERT_STRINGS)))])
                  for r in ins_rows]
    ins_by_row = {r: (p, v) for r, p, v in insertions}
    n_base = n_reads - int(n_reads * append_share)

    def row(i: int) -> dict:
        ins = ins_by_row.get(i)
        return {
            "key": str(i),
            "date": (dt.date(2024, 1, 1) + dt.timedelta(days=int(days[i]))
                     ).isoformat(),
            "country": COUNTRIES[countries[i]],
            "main": {"sequence": reads[i].tobytes().decode(),
                     "offset": int(offsets[i]),
                     "insertions": [f"{ins[0]}:{ins[1]}"] if ins else []},
        }

    os.makedirs(out_dir, exist_ok=True)
    files = {k: os.path.join(out_dir, v) for k, v in (
        ("input", "reads_base.ndjson"), ("append", "reads_append.ndjson"),
        ("config", "database_config.yaml"),
        ("reference", "reference_genomes.json"))}
    base_bytes = _write_ndjson(files["input"], (row(i) for i in range(n_base)))
    append_bytes = _write_ndjson(files["append"],
                                 (row(i) for i in range(n_base, n_reads)))
    _write_config(files["config"], "key",
                  {"date": "date", "country": "string"})
    _write_reference(files["reference"], ref.tobytes().decode())
    distinct = len({r.tobytes() for r in reads})
    return ReadSet(
        reference=ref, reads=reads, offsets=offsets, days=days,
        countries=countries, insertions=insertions, n_base=n_base,
        files=files,
        sizes={"rows": n_reads, "base_rows": n_base,
               "append_rows": n_reads - n_base,
               "ndjson_bytes": base_bytes + append_bytes,
               "append_ndjson_bytes": append_bytes,
               "distinct_sequences": distinct, "read_length": read_length,
               "amplicons": n_amplicons},
    )


VOCAB = [
    "spark", "batch", "part", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "a", "big", "key", "window", "row", "table", "stream",
    "merge", "data", "vector", "join", "index", "cache", "shuffle",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]


def curation_corpus(seed: int, out_dir: str, n_docs: int,
                    n_vectors: int) -> dict[str, int]:
    """``documents.parquet`` + ``embeddings.parquet`` in the scale-factor
    corpus schema: 31-word vocabulary texts of 8–96 words, ~0.25 % exact
    twins and ~0.6 % one-word near twins, unit-norm float32[64] vectors."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = _rng(seed, 3)
    n_words = rng.integers(8, 97, n_docs)
    texts = [" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), nw))
             for nw in n_words]
    for i in range(400, n_docs, 400):
        texts[i] = texts[i - 17]
    for i in range(160, n_docs, 160):
        if i % 400:
            words = texts[i - 23].split(" ")
            words[int(rng.integers(0, len(words)))] = \
                VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts[i] = " ".join(words)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), type=pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_WEIGHTS)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))
    vecs = rng.standard_normal((n_vectors, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n_vectors), type=pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vectors), type=pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))
    return {"rows": n_docs, "vectors": n_vectors,
            "text_bytes": sum(len(t) for t in texts),
            "distinct_texts": len(set(texts))}
