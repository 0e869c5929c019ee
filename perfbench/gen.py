"""Seeded input generators for the benchmark workloads.

Everything here is plain Python driven by one ``random.Random(seed)``:
the same seed yields byte-identical inputs, and nothing reads the
clock. Generation runs before the Spark session starts, so its cost is
never part of a measured phase.

Two input families:

* CRMLS change log: envelope records (FIXTURES.md §1-2) across the six
  topics, with Zipf-skewed keys, a share of out-of-order versions (an
  older ``uc_created_ts`` arriving later) and a share of exact
  ``uc_created_ts`` ties that the ``uc_version`` tie-breaker settles.
* Near-dup corpus: documents built from a seeded vocabulary, with
  planted exact duplicates, planted near-duplicates at a fixed token
  edit rate and planted low-quality (short) documents.
"""

from __future__ import annotations

import bisect
import itertools
import json
import os
import random
from dataclasses import dataclass, field

TOPICS = ("listings", "agents", "openhouse", "offices", "media", "history")

# share of each topic among a round's change records
TOPIC_MIX = {
    "listings": 0.40,
    "agents": 0.08,
    "openhouse": 0.16,
    "offices": 0.04,
    "media": 0.16,
    "history": 0.16,
}

BASE_TS = 1_700_000_000_000
OUT_OF_ORDER_SHARE = 0.10
TIE_SHARE = 0.05
NULL_FK_SHARE = 0.08
DANGLING_FK_SHARE = 0.02


@dataclass(frozen=True)
class CrmlsShape:
    listings: int
    agents: int
    offices: int
    child_share: float = 0.6  # listings that start with an open-house/media/history row


class _Zipf:
    """Zipf(s) sampler over ``n`` keys whose ranks are a seeded
    permutation, so hot keys land in arbitrary hash buckets."""

    def __init__(self, rng: random.Random, n: int, s: float = 1.1):
        self.keys = list(range(n))
        rng.shuffle(self.keys)
        self.cum = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(n)))

    def draw(self, rng: random.Random) -> int:
        i = bisect.bisect_right(self.cum, rng.random() * self.cum[-1])
        return self.keys[min(i, len(self.keys) - 1)]


@dataclass
class CrmlsGenerator:
    """Stateful change-record source. Each call to :meth:`bootstrap`
    or :meth:`changes` returns ``{topic: [json line, ...]}`` and
    advances the per-key clocks, so later calls produce out-of-order
    and tied versions relative to what was already emitted."""

    seed: int
    shape: CrmlsShape
    rng: random.Random = field(init=False)
    seq: int = field(init=False, default=0)
    clock: dict = field(init=False, default_factory=dict)

    def __post_init__(self):
        self.rng = random.Random(f"crmls-{self.seed}")
        s = self.shape
        self.zipf = {
            "listings": _Zipf(self.rng, s.listings),
            "agents": _Zipf(self.rng, s.agents),
            "offices": _Zipf(self.rng, s.offices),
        }

    # -- keys and timestamps ----------------------------------------------

    def _key_space(self, topic: str) -> str:
        return {"agents": "agents", "offices": "offices"}.get(topic, "listings")

    def _next_ts(self, topic: str, key: int, fresh: bool) -> int:
        """New version timestamp for ``key``: usually later than the
        key's newest version, sometimes older (out of order) or equal
        (an exact tie)."""
        ck = (topic, key)
        last = self.clock.get(ck)
        if last is None or fresh:
            ts = BASE_TS + self.rng.randrange(1_000_000)
        else:
            u = self.rng.random()
            if u < OUT_OF_ORDER_SHARE:
                ts = last - 1 - self.rng.randrange(5_000)
            elif u < OUT_OF_ORDER_SHARE + TIE_SHARE:
                ts = last
            else:
                ts = last + 1 + self.rng.randrange(60_000)
        self.clock[ck] = max(ts, last) if last is not None else ts
        return ts

    def _fk(self, space: str) -> str | None:
        u = self.rng.random()
        if u < NULL_FK_SHARE:
            return None
        n = getattr(self.shape, space)
        if u < NULL_FK_SHARE + DANGLING_FK_SHARE:
            return str(n + self.rng.randrange(n))  # never generated
        return str(self.zipf[space].draw(self.rng))

    # -- records ------------------------------------------------------------

    def _record(self, topic: str, key: int, fresh: bool = False) -> str:
        self.seq += 1
        ts = self._next_ts(topic, key, fresh)
        rng = self.rng
        if topic == "listings":
            data = {"ListingKeyNumeric": str(key)}
            for role in ("ListAgent", "BuyerAgent", "CoListAgent", "CoBuyerAgent"):
                fk = self._fk("agents")
                if fk is not None:
                    data[f"{role}KeyNumeric"] = fk
            for role in ("ListOffice", "BuyerOffice", "CoListOffice", "CoBuyerOffice"):
                fk = self._fk("offices")
                if fk is not None:
                    data[f"{role}KeyNumeric"] = fk
            data["ListPrice"] = rng.randrange(100_000, 5_000_000)
            pk = f"L{key}"
        elif topic == "agents":
            data = {"MemberKeyNumeric": str(key), "MemberFullName": f"agent {rng.randrange(10**6)}"}
            pk = str(key)
        elif topic == "offices":
            data = {"OfficeKeyNumeric": str(key), "OfficeName": f"office {rng.randrange(10**6)}"}
            pk = str(key)
        elif topic == "openhouse":
            data = {"ListingKeyNumeric": str(key), "OpenHouseKey": f"OH{self.seq}"}
            pk = f"OH{self.seq}"
        else:  # media / history: keyed by the listing's uc_pk
            data = {"ResourceRecordKeyNumeric": f"L{key}", "Seq": self.seq}
            pk = f"{topic[0].upper()}{self.seq}"
        env = {
            "data": json.dumps(data, separators=(",", ":")),
            "uc_pk": pk,
            "uc_update_ts": str(ts),
            "uc_version": f"{self.seq:010d}",
            "uc_created_ts": ts,
            "uc_row_type": topic,
            "uc_type": "insert" if fresh else "update",
            "uc_valid_day": ts // 86_400_000,
            "uc_valid_ts": ts,
        }
        return json.dumps(env, separators=(",", ":"))

    def bootstrap(self) -> dict[str, list[str]]:
        """One first version of every entity, plus first child rows for
        ``child_share`` of the listings."""
        s = self.shape
        out: dict[str, list[str]] = {t: [] for t in TOPICS}
        out["agents"] = [self._record("agents", k, fresh=True) for k in range(s.agents)]
        out["offices"] = [self._record("offices", k, fresh=True) for k in range(s.offices)]
        out["listings"] = [self._record("listings", k, fresh=True) for k in range(s.listings)]
        for topic in ("openhouse", "media", "history"):
            out[topic] = [
                self._record(topic, k, fresh=True)
                for k in range(s.listings)
                if self.rng.random() < s.child_share
            ]
        return out

    def changes(self, n: int) -> dict[str, list[str]]:
        """``n`` change records split over the topics by
        :data:`TOPIC_MIX` (the same split every round, at least one per
        topic, so every round exercises all six streams), keys
        Zipf-skewed within each topic."""
        return {
            topic: [
                self._record(topic, self.zipf[self._key_space(topic)].draw(self.rng))
                for _ in range(k)
            ]
            for topic, k in topic_split(n).items()
        }


def topic_split(n: int) -> dict[str, int]:
    """Apportion ``n`` records over :data:`TOPIC_MIX` by largest
    remainder, at least one per topic."""
    want = {t: max(1.0, n * share) for t, share in TOPIC_MIX.items()}
    out = {t: int(w) for t, w in want.items()}
    by_remainder = sorted(TOPIC_MIX, key=lambda t: (out[t] - want[t], t))
    for t in by_remainder[: max(0, n - sum(out.values()))]:
        out[t] += 1
    return {t: out[t] for t in TOPICS}


def write_round(src_dir: str, records: dict[str, list[str]], name: str) -> int:
    """Publish one file per non-empty topic under ``src_dir/<topic>/``.
    Each file is written under a hidden name and renamed into place, so
    the file-stream source never lists a partial file. Returns the
    number of records written."""
    n = 0
    for topic, lines in records.items():
        if not lines:
            continue
        d = os.path.join(src_dir, topic)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".{name}.json.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines))
            fh.write("\n")
        os.replace(tmp, os.path.join(d, f"{name}.json"))
        n += len(lines)
    return n


# ---------------------------------------------------------------------------
# near-dup corpus
# ---------------------------------------------------------------------------

STOPWORDS = ["the", "a", "and", "of", "to", "is", "in", "that", "it", "for"]


@dataclass(frozen=True)
class Doc:
    id: int
    text: str
    base: int  # id of the planted base this doc derives from (itself for a base)
    kind: str  # "base" | "exact" | "near" | "short"


def near_dup_corpus(
    seed: int,
    n_docs: int,
    tokens_per_doc: int = 120,
    exact_share: float = 0.05,
    near_share: float = 0.30,
    short_share: float = 0.05,
    edit_rate: float = 0.02,
    vocab_size: int = 4000,
) -> list[Doc]:
    """Documents with planted structure. Bases are independent draws
    from a seeded vocabulary (with English stopwords mixed in); exact
    duplicates copy a base verbatim; near-duplicates replace each base
    token with probability ``edit_rate``; short documents fail the
    token-count quality filter. Ids are a seeded shuffle so planted
    copies are not adjacent to their bases."""
    rng = random.Random(f"neardup-{seed}")
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted(
        {"".join(rng.choice(letters) for _ in range(rng.randint(3, 9))) for _ in range(vocab_size)}
    )
    words = vocab + STOPWORDS * (vocab_size // 40)

    def draw(k: int) -> list[str]:
        return [rng.choice(words) for _ in range(k)]

    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_short = int(n_docs * short_share)
    n_base = n_docs - n_exact - n_near - n_short
    ids = list(range(1, n_docs + 1))
    rng.shuffle(ids)
    it = iter(ids)
    bases = [(next(it), draw(tokens_per_doc)) for _ in range(n_base)]
    docs = [Doc(i, " ".join(t), i, "base") for i, t in bases]
    for _ in range(n_exact):
        bid, toks = bases[rng.randrange(n_base)]
        docs.append(Doc(next(it), " ".join(toks), bid, "exact"))
    for _ in range(n_near):
        bid, toks = bases[rng.randrange(n_base)]
        edited = [rng.choice(words) if rng.random() < edit_rate else t for t in toks]
        docs.append(Doc(next(it), " ".join(edited), bid, "near"))
    for _ in range(n_short):
        i = next(it)
        docs.append(Doc(i, " ".join(draw(rng.randint(5, 30))), i, "short"))
    docs.sort(key=lambda d: d.id)
    return docs


def write_corpus(path: str, docs: list[Doc]) -> None:
    """JSON lines ``{"id": .., "text": ..}`` — the program sees only the
    documents, never the planted labels."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        for d in docs:
            fh.write(json.dumps({"id": d.id, "text": d.text}, separators=(",", ":")))
            fh.write("\n")
