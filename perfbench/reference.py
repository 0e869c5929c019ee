"""Plain-Python references the benchmark checks the program against.

CRMLS: the latest version per key by ``uc_created_ts`` with the
store's tie-breaker (``uc_version``, both descending), then the 11
LEFT lookups of the snapshot join. Near-dup: the quality filter, the
exact-content dedup, union-find components over the program's pairs,
and the canonical member per component.
"""

from __future__ import annotations

import collections
import json
from collections.abc import Iterable

# topic -> dedup key of a parsed (envelope, payload) record
_DEDUP_KEY = {
    "listings": lambda env, data: env["uc_pk"],
    "agents": lambda env, data: env["uc_pk"],
    "offices": lambda env, data: env["uc_pk"],
    "openhouse": lambda env, data: data.get("ListingKeyNumeric"),
    "media": lambda env, data: data.get("ResourceRecordKeyNumeric"),
    "history": lambda env, data: data.get("ResourceRecordKeyNumeric"),
}

AGENT_ROLES = (("aa", "ListAgent"), ("ab", "BuyerAgent"), ("ac", "CoListAgent"), ("ad", "CoBuyerAgent"))
OFFICE_ROLES = (("fa", "ListOffice"), ("fb", "BuyerOffice"), ("fc", "CoListOffice"), ("fd", "CoBuyerOffice"))

# the snapshot join's output, in order; the first column keys the result store
OUT_COLS = (
    ["l_uc_pk", "l_uc_version", "l_uc_created_ts"]
    + [f"{a}_uc_version" for a, _ in AGENT_ROLES]
    + ["o_uc_version"]
    + [f"{a}_uc_version" for a, _ in OFFICE_ROLES]
    + ["m_uc_version", "h_uc_version"]
)


class CrmlsReference:
    """Accumulates change records and answers "what must the joined
    snapshot be now". Latest-per-key is kept incrementally, so a
    trickle round costs O(round) plus one O(listings) join."""

    def __init__(self):
        # topic -> key -> (ts, version, env, data)
        self.latest: dict[str, dict] = collections.defaultdict(dict)

    def add(self, records: dict[str, list[str]]) -> None:
        for topic, lines in records.items():
            table = self.latest[topic]
            for line in lines:
                env = json.loads(line)
                data = json.loads(env["data"])
                key = _DEDUP_KEY[topic](env, data)
                cand = (env["uc_created_ts"], env["uc_version"], env, data)
                cur = table.get(key)
                if cur is None or cand[:2] > cur[:2]:
                    table[key] = cand

    def result(self) -> list[tuple]:
        """Joined rows as tuples in :data:`OUT_COLS` order, sorted."""
        agents, offices = self.latest["agents"], self.latest["offices"]
        oh, media, hist = self.latest["openhouse"], self.latest["media"], self.latest["history"]

        def version(table, key):
            hit = table.get(key) if key is not None else None
            return None if hit is None else hit[1]

        rows = []
        for pk, (ts, ver, _env, data) in self.latest["listings"].items():
            rows.append(
                (pk, ver, ts)
                + tuple(version(agents, data.get(f"{r}KeyNumeric")) for _, r in AGENT_ROLES)
                + (version(oh, data.get("ListingKeyNumeric")),)
                + tuple(version(offices, data.get(f"{r}KeyNumeric")) for _, r in OFFICE_ROLES)
                + (version(media, pk), version(hist, pk))
            )
        return sorted(rows, key=_sort_key)


def _sort_key(row: tuple) -> tuple:
    return tuple((v is None, v) for v in row)


def sorted_rows(rows: Iterable[tuple]) -> list[tuple]:
    return sorted(rows, key=_sort_key)


def compare_rows(what: str, got: list[tuple], want: list[tuple]) -> list[str]:
    """Problems found comparing two sorted row lists (empty if equal)."""
    if got == want:
        return []
    missing = collections.Counter(want) - collections.Counter(got)
    extra = collections.Counter(got) - collections.Counter(want)
    example = next(iter(missing or extra), None)
    return [
        f"{what}: {len(got)} rows vs {len(want)} expected, "
        f"{sum(missing.values())} missing, {sum(extra.values())} unexpected (e.g. {example})"
    ]


class ChangelogReplay:
    """Multiset replay of +/- changelog rows; a retract of a row that
    is not present is an error."""

    def __init__(self):
        self.rows: collections.Counter = collections.Counter()

    def apply(self, delta: Iterable[tuple[tuple, bool]]) -> None:
        for row, is_retract in sorted(delta, key=lambda d: d[1]):  # inserts first
            if is_retract:
                if self.rows[row] <= 0:
                    raise ValueError(f"retract of a row never inserted: {row}")
                self.rows[row] -= 1
                if self.rows[row] == 0:
                    del self.rows[row]
            else:
                self.rows[row] += 1

    def snapshot(self) -> list[tuple]:
        return sorted_rows(self.rows.elements())


# ---------------------------------------------------------------------------
# near-dup
# ---------------------------------------------------------------------------

MIN_TOKENS = 50


def curated_input(docs) -> dict[int, str]:
    """Docs that pass the token-count filter, then one per exact text
    (smallest id): ``{id: text}``."""
    first: dict[str, int] = {}
    for d in docs:
        if len(d.text.split()) >= MIN_TOKENS:
            key = d.text.strip().lower()
            if key not in first or d.id < first[key]:
                first[key] = d.id
    by_id = {d.id: d.text for d in docs}
    return {i: by_id[i] for i in sorted(first.values())}


def shingles(text: str, n: int = 3) -> set[str]:
    toks = [t for t in text.lower().split() if t]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    inter = len(sa & sb)
    return round(inter / (len(sa) + len(sb) - inter), 4)


def components(ids: Iterable[int], pairs: Iterable[tuple[int, int]]) -> dict[int, int]:
    """Union-find: ``{id: smallest id of its component}``."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in parent}


def canonical(kept: dict[int, str], comp: dict[int, int]) -> list[tuple[int, int, int]]:
    """(component, doc_id, cluster_size) with the longest doc (token
    count) per component, ties to the smallest id."""
    members = collections.defaultdict(list)
    for i, c in comp.items():
        members[c].append(i)
    out = []
    for c, ids in members.items():
        best = max(ids, key=lambda i: (len(kept[i].split()), -i))
        out.append((c, best, len(ids)))
    return sorted(out)


def merged_bases(docs, comp: dict[int, int]) -> list[str]:
    """Problems if any component holds documents of two planted bases."""
    base_of = {d.id: d.base for d in docs}
    seen: dict[int, int] = {}
    problems = []
    for i, c in comp.items():
        b = seen.setdefault(c, base_of[i])
        if b != base_of[i]:
            problems.append(f"component {c} merges planted bases {b} and {base_of[i]}")
    return problems


def near_dup_recall(docs, kept: dict[int, str], comp: dict[int, int]) -> float:
    """Share of planted near-duplicates that ended up in the component
    of their base's curated copy (the base itself, or the exact copy
    that exact dedup kept in its place). Near-duplicates that are not
    curated themselves are not counted."""
    text_of = {d.id: d.text for d in docs}
    kept_by_text = {t: i for i, t in kept.items()}
    found = total = 0
    for d in docs:
        base = kept_by_text.get(text_of[d.base])
        if d.kind == "near" and d.id in comp and base is not None:
            total += 1
            found += comp[d.id] == comp[base]
    return found / total if total else 1.0
