"""Query rounds for the two serving workloads and the expected answers the
client checks every response against.

Expected answers never come from the engine:

- ``serve_light``: the repository's pure-Python SaneQL evaluator
  (``tools/golden_fit/evaluator.py``) over the generated records, with
  their sequences materialized in memory; for ``mutations()`` the
  evaluator selects the rows and numpy counts the positions;
- ``serve_heavy``: numpy counts over the generated read matrix.

A round is a fixed list of queries whose parameters are drawn from the
seed. Clients cycle whole rounds, so every run serves the same query mix.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
from collections import Counter
from dataclasses import dataclass

import numpy as np

from gen import COUNTRIES, GenomeSet, ReadSet


@dataclass
class Query:
    kind: str
    text: str
    ordered: bool = False
    expected: object = None  # canonical answer, see canonical()


def _canon_value(v):
    if isinstance(v, float):
        return float(f"{v:.9g}")
    return v


def canonical(rows: list[dict], ordered: bool):
    """Order-insensitive (or, for orderBy/limit, ordered) canonical form of a
    result: each row becomes a sorted tuple of (column, value)."""
    tuples = [tuple(sorted((k, _canon_value(v)) for k, v in r.items()))
              for r in rows]
    return tuple(tuples) if ordered else Counter(tuples)


def _date_window(rng: np.random.Generator, start: dt.date, days: int,
                 width: int) -> tuple[str, str]:
    lo = start + dt.timedelta(days=int(rng.integers(0, days - width)))
    return lo.isoformat(), (lo + dt.timedelta(days=width)).isoformat()


MUTATIONS = ".mutations(minProportion:=0.05)"


def light_round(gs: GenomeSet, seed: int) -> tuple[list[Query], Query]:
    """Dashboard-style queries: metadata and lineage counts, date window +
    symbol tests grouped by country, insertion search and a details page.

    Also returns the mutation table of one lineage, which set-up runs once
    on its own: at 4 connections its eager bind-time jobs would make every
    query that overlaps it slower by an amount that changes from run to run.
    """
    rng = np.random.default_rng([seed, 10])
    # the lineage filter takes the clade nearest a quarter of the rows, so
    # the cost of its queries does not swing by seed
    lineage = min(sorted(gs.lineage_parents),
                  key=lambda n: abs(_clade_share(gs, n) - 0.25))
    lo, hi = _date_window(rng, dt.date(2021, 1, 1), 365, 120)
    window = f"date.between('{lo}'::date, '{hi}'::date)"
    p1, p2, p3 = (int(p) for p in rng.choice(gs.mutated_positions, 3))
    sym = "ACGT"[int(rng.integers(0, 4))]
    country = COUNTRIES[int(rng.integers(0, 3))]
    ins_pos = gs.insertion_positions[int(rng.integers(0, 3))]
    out = [
        Query("metadata_count",
              "default.groupBy({count:=count()}, {country})"),
        Query("lineage_count",
              f"default.filter(pango_lineage.lineage('{lineage}', "
              "includeSublineages:=true)).groupBy({count:=count()})"),
        Query("has_mutation_by_country",
              f"default.filter({window} && hasMutation(position:={p1}, "
              "sequenceName:='main')).groupBy({count:=count()}, {country})"),
        Query("nucleotide_equals_by_country",
              f"default.filter({window} && nucleotideEquals(position:={p2}, "
              f"symbol:='{sym}', sequenceName:='main'))"
              ".groupBy({count:=count()}, {country})"),
        Query("maybe_by_country",
              f"default.filter({window} && maybe(nucleotideEquals("
              f"position:={p3}, symbol:='{sym}', sequenceName:='main')))"
              ".groupBy({count:=count()}, {country})"),
        Query("insertion_contains",
              f"default.filter(insertionContains(position:={ins_pos}, "
              "value:='.*A.*', sequenceName:='main'))"
              ".groupBy({count:=count()}, {country})"),
        Query("details_page",
              f"default.filter(country = '{country}' && {window})"
              ".orderBy({date, primary_key}).limit(100)"
              ".project({primary_key, date, country, pango_lineage})",
              ordered=True),
        Query("lineage_groups",
              "default.groupBy({count:=count()}, {pango_lineage})"),
    ]
    return out, Query("lineage_mutations",
                      f"default.filter(pango_lineage.lineage('{lineage}', "
                      f"includeSublineages:=true)){MUTATIONS}")


def _clade_share(gs: GenomeSet, lineage: str) -> float:
    clade, grew = {lineage}, True
    while grew:
        kids = {c for c, ps in gs.lineage_parents.items()
                if c not in clade and clade.intersection(ps)}
        clade |= kids
        grew = bool(kids)
    return sum(r["pango_lineage"] in clade for r in gs.records) / len(gs.records)


def expect_light(queries: list[Query], gs: GenomeSet, repo_root: str) -> None:
    sys.path.insert(0, os.path.join(repo_root, "tools", "golden_fit"))
    from evaluator import Context, Evaluator

    ev = Evaluator(Context(
        nuc_refs={"main": gs.reference}, aa_refs={},
        lineage_parents=gs.lineage_parents,
        lineage_aliases=gs.lineage_aliases, phylo_parent={},
    ))
    ref = np.frombuffer(gs.reference.encode(), dtype=np.uint8)
    memo: dict[str, object] = {}
    for q in queries:
        if q.text in memo:
            pass
        elif q.text.endswith(MUTATIONS):
            # the evaluator selects the rows; the per-position counting
            # over 29,903-nt strings is done in numpy with the same rules
            base = ev.run(q.text[:-len(MUTATIONS)], gs.records)
            seqs = np.stack([np.frombuffer(r["_seq"]["main"].encode(),
                                           dtype=np.uint8) for r in base])
            memo[q.text] = canonical(_genome_mutations(seqs, ref, 0.05),
                                     q.ordered)
        else:
            memo[q.text] = canonical(ev.run(q.text, gs.records), q.ordered)
        q.expected = memo[q.text]


def _genome_mutations(seqs: np.ndarray, ref: np.ndarray,
                      min_prop: float) -> list[dict]:
    """mutations() over aligned full-length sequences: coverage counts every
    non-``N`` symbol, a mutation is a stored symbol other than the
    reference's, emitted when count / coverage >= ``min_prop``."""
    coverage = (seqs != ord("N")).sum(axis=0)
    out = []
    for sym in b"ACGT":
        count = ((seqs == sym) & (ref != sym)).sum(axis=0)
        for p in np.nonzero(count)[0]:
            prop = count[p] / coverage[p]
            if prop >= min_prop:
                out.append({"mutationFrom": chr(ref[p]),
                            "mutationTo": chr(sym), "position": int(p) + 1,
                            "sequenceName": "main", "proportion": float(prop),
                            "coverage": int(coverage[p]),
                            "count": int(count[p])})
    return out


def heavy_round(rs: ReadSet, seed: int) -> list[Query]:
    """Side-table scans: mutations() over all / a date window / almost all
    rows, insertions(), a 6-position at() groupBy and an nOf filter, each
    with its expected answer counted in numpy."""
    rng = np.random.default_rng([seed, 11])
    lo_day = int(rng.integers(0, 7))
    lo, hi = (dt.date(2024, 1, 1) + dt.timedelta(days=d)
              for d in (lo_day, lo_day + 6))
    starts = np.unique(rs.offsets)
    w1, w2 = (int(s) for s in rng.choice(starts, 2, replace=False))
    at_pos = sorted(int(p) + 1 for p in
                    np.r_[w1 + rng.choice(200, 3, replace=False),
                          w2 + rng.choice(200, 3, replace=False)])
    # nOf positions: the most often mutated columns of one amplicon window
    w3 = int(rng.choice(starts))
    in_w = rs.offsets == w3
    ref_w = rs.reference[w3:w3 + rs.reads.shape[1]]
    mut_freq = (rs.reads[in_w] != ref_w).sum(axis=0)
    nof_pos = sorted(int(p) + w3 + 1 for p in np.argsort(-mut_freq)[:5])

    everything = np.ones(rs.offsets.size, dtype=bool)
    in_window = ((rs.days >= lo_day) & (rs.days <= lo_day + 6))
    almost_all = everything.copy()
    almost_all[3] = False
    insertions = Counter((p, v) for _r, p, v in rs.insertions)
    syms = np.stack([_symbol_at(rs, p) for p in at_pos], axis=1)
    mutated = sum((_symbol_at(rs, p) != ord("N"))
                  & (_symbol_at(rs, p) != rs.reference[p - 1])
                  for p in nof_pos)

    at_map = ", ".join(f"s{i} := main.at({p})" for i, p in enumerate(at_pos))
    at_keys = ", ".join(f"s{i}" for i in range(6))
    nof = ", ".join(f"hasMutation(position:={p}, sequenceName:='main')"
                    for p in nof_pos)
    queries = [
        (Query("mutations_all", f"default{MUTATIONS}"),
         _mutations(rs, everything, 0.05)),
        (Query("mutations_date_window",
               f"default.filter(date.between('{lo}'::date, '{hi}'::date))"
               f"{MUTATIONS}"),
         _mutations(rs, in_window, 0.05)),
        (Query("mutations_almost_all",
               f"default.filter(!(key = '3')){MUTATIONS}"),
         _mutations(rs, almost_all, 0.05)),
        (Query("insertions", "default.insertions()"),
         [{"insertedSymbols": v, "position": p, "sequenceName": "main",
           "count": n} for (p, v), n in insertions.items()]),
        (Query("at_groupby", f"default.map({{{at_map}}})"
               f".groupBy({{count:=count()}}, {{{at_keys}}})"),
         [{**{f"s{i}": chr(b) for i, b in enumerate(k)}, "count": n}
          for k, n in Counter(map(bytes, syms)).items()]),
        (Query("nof_filter", f"default.filter(nOf(2, {{{nof}}}))"
               ".groupBy({count:=count()}, {country})"),
         [{"country": COUNTRIES[c], "count": n} for c, n in
          Counter(rs.countries[mutated >= 2].tolist()).items()]),
    ]
    for q, rows in queries:
        q.expected = canonical(rows, q.ordered)
    return [q for q, _rows in queries]


def _mutations(rs: ReadSet, mask: np.ndarray, min_prop: float) -> list[dict]:
    L = rs.reference.size
    width = rs.reads.shape[1]
    reads, offs = rs.reads[mask], rs.offsets[mask]
    cols = (offs[:, None] + np.arange(width)[None, :]).ravel()
    coverage = np.bincount(cols, minlength=L)
    out = []
    for sym in b"ACGT":
        hit = (reads.ravel() == sym) & (rs.reference[cols] != sym)
        count = np.bincount(cols[hit], minlength=L)
        for p in np.nonzero(count)[0]:
            prop = count[p] / coverage[p]
            if prop >= min_prop:
                out.append({"mutationFrom": chr(rs.reference[p]),
                            "mutationTo": chr(sym), "position": int(p) + 1,
                            "sequenceName": "main", "proportion": float(prop),
                            "coverage": int(coverage[p]),
                            "count": int(count[p])})
    return out


def _symbol_at(rs: ReadSet, pos: int) -> np.ndarray:
    """Stored symbol of every read at 1-based ``pos``; ``N`` when uncovered."""
    rel = pos - 1 - rs.offsets
    inside = (rel >= 0) & (rel < rs.reads.shape[1])
    out = np.full(rs.offsets.size, ord("N"), dtype=np.uint8)
    out[inside] = rs.reads[np.nonzero(inside)[0], rel[inside]]
    return out
