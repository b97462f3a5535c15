"""Seeded update-event generator for the pipeline workloads.

Payload shapes follow FIXTURES.md §A3. Sizes are long-tailed: author
count, reference count, abstract and fulltext body length are drawn
from capped Pareto/lognormal laws, so a few records are much larger
than the median one.

Keys are 19-character bibcodes ``YYYY.SSSSSSSSJJJJJX`` whose sort
order equals their creation order, so new papers land at the top of
the key range and a recency skew is a skew towards high keys.

The generator keeps the ground truth the benchmark checks against:
which records are ready (bib_data + orcid_claims + nonbib_data, the
dispatch readiness rule), which are included in the sitemap (have
bib_data), and per tick which keys are new, updated, resent unchanged
or tombstoned.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random
from statistics import NormalDist

STEMS = ("ApJ..", "MNRAS", "A&A..", "AJ...", "PhRvD", "Icar.", "SoPh.",
         "arXiv")
DOCTYPES = ("article", "eprint", "inproceedings", "abstract", "book")
WORDS = ("star galaxy dust orbit plasma flux spectrum cluster halo disk "
         "jet wind mass field survey model redshift pulsar nebula comet "
         "asteroid corona solar lensing quasar merger accretion dark "
         "matter energy neutrino magnetic radio optical infrared x-ray "
         "gamma transient variable binary exoplanet atmosphere").split()
COLLECTIONS = ("astrophysics", "heliophysics", "planetary", "physics",
               "earthscience")

# payload types besides the three readiness ones, with the share of
# records that carry each
OPTIONAL_TYPES = (("metrics", 0.9), ("fulltext", 0.5), ("augments", 0.3),
                  ("classifications", 0.5), ("boost_factors", 0.4))
# share of new records that never get orcid_claims, so the readiness
# filter rejects them
INCOMPLETE_SHARE = 0.08

BOOTSTRAP_TS = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
# Tick events are stamped after any wall-clock ``processed`` stamp a run
# can leave, so whether dispatch re-selects a touched record depends on
# the seed alone, never on when the run happens.
TICK_TS = dt.datetime(2100, 1, 1, tzinfo=dt.timezone.utc)


def bibcode(seq: int, rng: random.Random) -> str:
    year = 1990 + min(35, seq // 4000)
    return (f"{year:04d}.{seq:08d}{rng.choice(STEMS)}"
            f"{chr(65 + seq % 26)}")


def _pareto(alpha: float, lo: float, cap: int):
    """Inverse CDF of a Pareto law, capped."""
    return lambda u: min(cap, int(lo * (1.0 - u) ** (-1.0 / alpha)))


def _lognormal(median: float, sigma: float, cap: int):
    """Inverse CDF of a lognormal law, capped."""
    nd = NormalDist(0.0, sigma)
    return lambda u: max(3, min(cap, int(median * math.exp(nd.inv_cdf(u)))))


# long-tailed size laws: author, reference and citation counts, abstract
# and fulltext body words
SIZE_LAWS = {
    "authors": _pareto(1.3, 1, 300),
    "references": _pareto(1.1, 5, 400),
    "citations": _pareto(1.2, 1, 300),
    "abstract_words": _lognormal(150, 0.8, 1200),
    "body_words": _lognormal(300, 0.8, 4000),
}
STRATA = 512


class Sizes:
    """Draws each size from its law by stratified sampling: every block
    of ``STRATA`` draws holds the law's quantiles at (i + 0.5) / STRATA
    in a seeded order. Sizes stay long-tailed while the total volume of
    a few thousand records barely moves between seeds."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.pools: dict[str, list[int]] = {}

    def take(self, kind: str) -> int:
        pool = self.pools.get(kind)
        if not pool:
            law = SIZE_LAWS[kind]
            pool = [law((i + 0.5) / STRATA) for i in range(STRATA)]
            self.rng.shuffle(pool)
            self.pools[kind] = pool
        return pool.pop()


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


class Record:
    """Generator-side state of one paper: its current payloads."""

    __slots__ = ("bibcode", "payloads", "version")

    def __init__(self, bib: str):
        self.bibcode = bib
        self.payloads: dict[str, dict | list] = {}
        self.version = 0

    @property
    def ready(self) -> bool:
        return all(t in self.payloads
                   for t in ("bib_data", "orcid_claims", "nonbib_data"))


def _authors(rng: random.Random, sizes: Sizes) -> list[str]:
    n = sizes.take("authors")
    return [f"Author{rng.randrange(10**6):06d}, {chr(65 + i % 26)}."
            for i in range(n)]


def bib_payload(rec: Record, rng: random.Random, sizes: Sizes,
                authors: list[str]) -> dict:
    year = rec.bibcode[:4]
    title = _words(rng, rng.randint(4, 14)).capitalize()
    link = json.dumps({"url": f"https://arxiv.org/abs/{rec.bibcode}",
                       "access": rng.choice(("open", "closed")),
                       "title": "", "type": "preprint",
                       "instances": ""})
    return {
        "bibcode": rec.bibcode,
        "title": [f"{title} v{rec.version}"],
        "abstract": _words(rng, sizes.take("abstract_words")),
        "author": authors,
        "author_count": len(authors),
        "author_norm": [a.split(",")[0] for a in authors],
        "first_author": authors[0],
        "first_author_norm": authors[0].split(",")[0],
        "aff": [f"Institute {rng.randrange(500)}" for _ in authors],
        "doctype": rng.choice(DOCTYPES),
        "pub": rec.bibcode[13:18].strip("."),
        "bibstem": [rec.bibcode[13:18].strip(".")],
        "year": year,
        "pubdate": f"{year}-{rng.randint(1, 12):02d}-00",
        "date": f"{year}-01-01T00:00:00.000000Z",
        "database": [rng.choice(("astronomy", "physics"))],
        "identifier": [rec.bibcode, f"10.{rng.randrange(9999)}/x{rec.bibcode}"],
        "page": [str(rng.randrange(1, 999))],
        "volume": str(rng.randrange(1, 900)),
        "links_data": [link],
    }


def nonbib_payload(rec: Record, rng: random.Random, sizes: Sizes,
                   authors: list[str]) -> dict:
    refs = [f"{1990 + rng.randrange(36)}.{rng.randrange(10**8):08d}ApJ..A"
            for _ in range(sizes.take("references"))]
    reads = [rng.randrange(50) for _ in range(10)]
    return {
        "bibcode": rec.bibcode,
        "authors": authors,
        "boost": round(rng.random(), 4),
        "norm_cites": round(rng.random() * 100, 2),
        "citation_count": rng.randrange(1000),
        "citation_count_norm": round(rng.random() * 10, 3),
        "data": [f"CDS:{rng.randrange(1, 9)}"] if rng.random() < 0.2 else [],
        "property": ["ARTICLE", rng.choice(("REFEREED", "NOT REFEREED"))],
        "esource": ["PUB_HTML"],
        "reads": reads,
        "downloads": reads[::-1],
        "readers": [f"r{rng.randrange(10**5)}" for _ in range(rng.randrange(8))],
        "reference": refs,
        "reference_count": len(refs),
        "refereed": rng.random() < 0.7,
        "simbad_objects": [f"{rng.randrange(10**6)} G"] if rng.random() < 0.2 else [],
        "grants": [f"NASA {rng.randrange(10**5)}"] if rng.random() < 0.3 else [],
        "uat": [f"stars/{rng.choice(WORDS)}/{rng.randrange(2000)}"],
    }


def orcid_payload(rec: Record, rng: random.Random, authors: list[str]) -> dict:
    return {"bibcode": rec.bibcode, "authors": authors,
            "verified": [f"0000-0001-{rng.randrange(10**4):04d}-0000"
                         if rng.random() < 0.2 else "-" for _ in authors[:20]],
            "unverified": ["-" for _ in authors[:20]]}


def metrics_payload(rec: Record, rng: random.Random, sizes: Sizes) -> dict:
    cites = [f"{1990 + rng.randrange(36)}.{rng.randrange(10**8):08d}MNRASB"
             for _ in range(sizes.take("citations") - 1)]
    return {"bibcode": rec.bibcode, "refereed": rng.random() < 0.7,
            "citations": cites, "citation_num": len(cites),
            "refereed_citations": cites[: len(cites) // 2],
            "refereed_citation_num": len(cites) // 2,
            "author_num": rng.randint(1, 50), "reference_num": rng.randrange(90),
            "downloads": [rng.randrange(40) for _ in range(5)],
            "reads": [rng.randrange(80) for _ in range(5)],
            "an_citations": round(rng.random(), 3),
            "rn_citations": round(rng.random(), 3)}


def fulltext_payload(rng: random.Random, sizes: Sizes) -> dict:
    return {"body": _words(rng, sizes.take("body_words")),
            "acknowledgements": _words(rng, rng.randint(5, 30)),
            "facility": ["HST"] if rng.random() < 0.3 else []}


def augments_payload(rng: random.Random, authors: list[str]) -> dict:
    aff = [f"Inst {rng.randrange(500)}" for _ in authors[:30]]
    return {"aff": aff, "aff_raw": aff, "aff_abbrev": aff,
            "aff_id": [str(rng.randrange(9999)) for _ in aff],
            "institution": aff}


def boost_payload(rng: random.Random) -> dict:
    return {k: round(rng.random(), 4) for k in (
        "doctype_boost", "refereed_boost", "recency_boost", "boost_factor",
        "astronomy_final_boost", "physics_final_boost")}


def _event(bib: str, typ: str, payload, ts: dt.datetime,
           status: str = "active") -> dict:
    return {"bibcode": bib, "type": typ, "status": status,
            "payload": json.dumps(payload) if payload is not None else "{}",
            "event_ts": ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ")}


class Corpus:
    """All generated records plus the per-tick ground truth. ``seed``
    fixes every key, payload, timestamp and tick mix."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.sizes = Sizes(self.rng)
        self.records: dict[str, Record] = {}
        self.live: list[str] = []          # creation order == key order
        self.next_seq = 0

    # -- record creation -------------------------------------------------
    def _new_record(self) -> Record:
        rec = Record(bibcode(self.next_seq, self.rng))
        self.next_seq += 1
        rng, sizes = self.rng, self.sizes
        authors = _authors(rng, sizes)
        rec.payloads["bib_data"] = bib_payload(rec, rng, sizes, authors)
        rec.payloads["nonbib_data"] = nonbib_payload(rec, rng, sizes, authors)
        if rng.random() >= INCOMPLETE_SHARE:
            rec.payloads["orcid_claims"] = orcid_payload(rec, rng, authors)
        for typ, share in OPTIONAL_TYPES:
            if rng.random() < share:
                rec.payloads[typ] = {
                    "metrics": lambda: metrics_payload(rec, rng, sizes),
                    "fulltext": lambda: fulltext_payload(rng, sizes),
                    "augments": lambda: augments_payload(rng, authors),
                    "classifications": lambda: rng.sample(
                        COLLECTIONS, rng.randint(1, 2)),
                    "boost_factors": lambda: boost_payload(rng),
                }[typ]()
        self.records[rec.bibcode] = rec
        self.live.append(rec.bibcode)
        return rec

    def bootstrap_events(self, n: int) -> list[dict]:
        """Events creating ``n`` records: one per payload type each."""
        out = []
        for i in range(n):
            rec = self._new_record()
            ts = BOOTSTRAP_TS + dt.timedelta(seconds=i)
            for typ, payload in rec.payloads.items():
                out.append(_event(rec.bibcode, typ, payload, ts))
        return out

    # -- steady-state ticks ----------------------------------------------
    def _recent_picks(self, k: int) -> list[str]:
        """``k`` distinct live keys, newest first, skewed towards the
        newest: the rank from the top is ``n * u**3`` with ``u`` the
        midpoint of each of ``k`` equal strata, so every tick spreads
        its picks over the key range (and the table's files) the same
        way whatever the seed."""
        n = len(self.live)
        taken: set[int] = set()
        for i in range(k):
            rank = min(n - 1, int(n * ((i + 0.5) / k) ** 3))
            while rank in taken:
                rank = (rank + 1) % n
            taken.add(rank)
        return [self.live[n - 1 - r] for r in sorted(taken)]

    def tick_events(self, batch: int, k: int) -> tuple[list[dict], dict]:
        """One cron batch of about ``batch`` keys: 30% new papers at
        the top of the key range, then recency-skewed picks: 45%
        updates, 15% identical resends, 10% tombstones, interleaved
        evenly over the picks. Updates alternate between a bib_data
        revision and a nonbib_data + metrics refresh. Returns the
        events and the tick's ground truth. ``k`` numbers the tick."""
        rng = self.rng
        ts = TICK_TS + dt.timedelta(minutes=k)
        n_new = max(1, round(batch * 0.30))
        counts = {"updated": max(1, round(batch * 0.45)),
                  "resent": max(1, round(batch * 0.15))}
        counts["deleted"] = max(1, batch - n_new - sum(counts.values()))
        slots = sorted(((j + 0.5) / c, role) for role, c in counts.items()
                       for j in range(c))
        picks = self._recent_picks(len(slots))
        roles = {role: [b for b, (_, r) in zip(picks, slots) if r == role]
                 for role in counts}
        upd, res, dels = roles["updated"], roles["resent"], roles["deleted"]
        events: list[dict] = []
        for i, b in enumerate(upd):
            rec = self.records[b]
            rec.version += 1
            authors = rec.payloads["bib_data"]["author"]
            # every update rewrites a readiness-tracked payload, so the
            # dispatch re-selects the record and its doc changes
            if i % 2 == 0:
                rec.payloads["bib_data"] = bib_payload(
                    rec, rng, self.sizes, authors)
                types = ["bib_data"]
            else:
                rec.payloads["nonbib_data"] = nonbib_payload(
                    rec, rng, self.sizes, authors)
                rec.payloads["metrics"] = metrics_payload(rec, rng, self.sizes)
                types = ["nonbib_data", "metrics"]
            events += [_event(b, t, rec.payloads[t], ts) for t in types]
        # a resend repeats the stored nonbib payload: the transform
        # takes nonbib fields by presence, not by timestamp, so the doc
        # and every sink checksum stay equal
        for b in res:
            rec = self.records[b]
            events.append(_event(b, "nonbib_data",
                                 rec.payloads["nonbib_data"], ts))
        new = [self._new_record() for _ in range(n_new)]
        for rec in new:
            for typ, payload in rec.payloads.items():
                events.append(_event(rec.bibcode, typ, payload, ts))
        for b in dels:
            events.append(_event(b, "bib_data", None, ts, status="deleted"))
            del self.records[b]
        gone = set(dels)
        self.live = [b for b in self.live if b not in gone]
        new_keys = [r.bibcode for r in new]
        truth = {
            "new": new_keys, "updated": upd, "resent": res, "deleted": dels,
            # dispatch emits a solr doc for every new or updated record
            # that is ready; resends carry an unchanged doc
            "solr_rows": sum(self.records[b].ready for b in upd + new_keys),
        }
        return events, truth

    # -- ground truth ------------------------------------------------------
    def counts(self) -> dict:
        recs = self.records.values()
        return {"records": len(self.records),
                "ready": sum(r.ready for r in recs),
                "included": len(self.records),
                "ready_with_metrics": sum(r.ready and "metrics" in r.payloads
                                          for r in recs)}

    def sample(self, k: int) -> list[Record]:
        keys = sorted(b for b in self.records if self.records[b].ready)
        return [self.records[b] for b in self.rng.sample(keys, k)]


def write_events(path: str, events: list[dict]) -> int:
    """Write events as one JSON-lines file; returns the byte count."""
    os.makedirs(path, exist_ok=True)
    body = "".join(json.dumps(e) + "\n" for e in events)
    with open(os.path.join(path, "events.json"), "w", encoding="utf-8") as f:
        f.write(body)
    return len(body)
