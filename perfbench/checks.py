"""Output checks. Each returns a list of error strings (empty = pass);
every error counts into ``failed`` and fails the run. They work on
plain Python data read back from the engine's outputs, against the
ground truth in gen.py."""

from __future__ import annotations

import gen

# Quality floors: far below what the planted data gives a working
# operator (near-dup Jaccard >= 0.73 against a 0.7 threshold, clusters
# at cosine ~0.9), so only a broken operator trips them.
DEDUP_RECALL_FLOOR = 0.9
ANN_RECALL_FLOOR = 0.8


def check_quarantine(batch: int, got: int, planted: int) -> list[str]:
    """The error stream holds exactly the planted malformed lines."""
    return [] if got == planted else [f"batch {batch}: quarantined {got} rows, planted {planted}"]


def check_rows(name: str, want_count: int, want_hash: int, rows: list[dict]) -> list[str]:
    """An output holds exactly the expected rows (TABLE_COLUMNS order),
    compared by count and order-insensitive value hash."""
    errs = []
    if len(rows) != want_count:
        errs.append(f"{name}: {len(rows)} rows, expected {want_count}")
    got = gen.multiset_hash(tuple(r.get(c) for c in gen.TABLE_COLUMNS) for r in rows)
    if got != want_hash:
        errs.append(f"{name}: value hash {got:016x} != expected {want_hash:016x}")
    return errs


def components(pairs) -> dict[int, int]:
    """id -> minimum id of its connected component (union-find)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_pairs(inp: gen.CurationInputs, pairs: set[tuple[int, int]]) -> tuple[list[str], float]:
    """Near-dup pairs: no pair across planted groups, no pair under the
    threshold; returns (errors, recall over the planted pairs)."""
    errs = []
    for a, b in sorted(pairs):
        if a >= b or a not in inp.group_of or b not in inp.group_of:
            errs.append(f"malformed pair ({a}, {b})")
        elif inp.group_of[a] != inp.group_of[b]:
            errs.append(f"false near-dup pair ({a}, {b}) across planted groups")
        elif gen.jaccard(inp.clean[a], inp.clean[b]) < gen.NEAR_DUP_THRESHOLD:
            errs.append(f"pair ({a}, {b}) under the Jaccard threshold")
    found = len(pairs & inp.planted_pairs)
    recall = found / len(inp.planted_pairs) if inp.planted_pairs else 1.0
    if recall < DEDUP_RECALL_FLOOR:
        errs.append(f"near-dup recall {recall:.3f} < floor {DEDUP_RECALL_FLOOR}")
    return errs, recall


def expected_kept(inp: gen.CurationInputs, pairs: set[tuple[int, int]]) -> set[int]:
    """Exact dedup keeps one member of each exact group (which one is
    unspecified, so the group minimum stands in); near-dup dedup then
    drops every doc that is not the minimum of its pair component."""
    drop = {d for g in inp.exact_groups for d in g[1:]}
    comp = components(pairs)
    drop |= {d for d, root in comp.items() if d != root}
    return set(inp.clean) - drop


def check_kept(inp: gen.CurationInputs, pairs: set[tuple[int, int]], kept: dict[int, dict]) -> list[str]:
    """Kept docs: one per exact group, near-dup groups reduced by the
    found pairs, every singleton kept; texts stripped of markup; every
    doc scored and identified as English."""
    errs = []
    want = expected_kept(inp, pairs)
    exact_rep = {g[0]: g for g in inp.exact_groups}
    got_norm = set()
    for d in kept:
        g = inp.groups[inp.group_of[d]] if d in inp.group_of else None
        # any one member of an exact group may survive exact dedup
        got_norm.add(g[0] if g is not None and g[0] in exact_rep else d)
    if len(got_norm) != len(kept):
        errs.append("more than one member of an exact-duplicate group kept")
    if got_norm != want:
        missing, extra = sorted(want - got_norm)[:5], sorted(got_norm - want)[:5]
        errs.append(f"kept set differs from the planted clusters: missing {missing}, extra {extra}")
    for d, row in kept.items():
        if d not in inp.clean:
            continue
        if row["text"] != inp.clean[d]:
            errs.append(f"doc {d}: stripped text differs from the clean text")
        if row["lang_pred"] != "en":
            errs.append(f"doc {d}: lang_pred {row['lang_pred']!r}, expected 'en'")
        q = row["quality_score"]
        if q is None or not 0.0 <= q <= 1.0:
            errs.append(f"doc {d}: quality_score {q} outside [0, 1]")
    return errs[:20]


def check_ann(inp: gen.CurationInputs, got: dict[int, list[int]]) -> tuple[list[str], int, float]:
    """Approximate top-k: at most k distinct neighbors per query, never
    the query itself; returns (errors, hits against the exact top-k,
    recall@k)."""
    errs = []
    hits = 0
    for q in inp.query_ids:
        nbrs = got.get(q, [])
        if len(nbrs) > inp.k or len(set(nbrs)) != len(nbrs) or q in nbrs:
            errs.append(f"query {q}: malformed neighbor list {nbrs[:12]}")
        hits += len(set(nbrs) & inp.exact_topk[q])
    extra = set(got) - set(inp.query_ids)
    if extra:
        errs.append(f"results for unknown queries {sorted(extra)[:5]}")
    recall = hits / (len(inp.query_ids) * inp.k)
    if recall < ANN_RECALL_FLOOR:
        errs.append(f"ann recall@{inp.k} {recall:.3f} < floor {ANN_RECALL_FLOOR}")
    return errs, hits, recall


def check_lookup(model: gen.TableModel, keys: list[int], rows: list[tuple]) -> list[str]:
    """A left lookup returns exactly one row per probe key: the model's
    row, or the key with NULLs when the key was never written."""
    got = {}
    for r in rows:
        if r[0] in got:
            return [f"lookup returned key {r[0]} twice"]
        got[r[0]] = r
    errs = []
    if set(got) != set(keys):
        errs.append(f"lookup keys differ: {sorted(set(got) ^ set(keys))[:5]}")
    for k, want in model.lookup(keys).items():
        expect = want if want is not None else (k,) + (None,) * (len(gen.TABLE_COLUMNS) - 1)
        if k in got and tuple(got[k]) != tuple(expect):
            errs.append(f"lookup {k}: got {tuple(got[k])}, expected {expect}")
    return errs[:20]


def check_replay(model: gen.TableModel, rows: list[tuple]) -> list[str]:
    """Replay returns the model's state exactly."""
    if len(rows) != len(model.state):
        return [f"replay has {len(rows)} rows, model {len(model.state)}"]
    got = gen.multiset_hash(rows)
    if got != model.hash():
        return [f"replay value hash {got:016x} != model {model.hash():016x}"]
    return []
