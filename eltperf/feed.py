"""Seeded, Spark-free Execute-style NDJSON feed and its truth model.

The generator writes pages the way the Execute fetch endpoint serves them:
one NDJSON document per line, versions of a document in increasing order,
soft deletes as a ``$DELETED: true`` revision. Mixed into a page are exact
in-page duplicates, malformed lines and lines missing an identity field, in
known numbers. The same seed writes byte-identical pages.

``Truth`` replays those pages in plain Python with the landing rules of
``execute_sync_spark.landing`` (drop malformed and identity-less lines,
collapse in-page duplicates on ``(type, id, version, chunk)``), the txn guard
of ``ParquetSink.append``, D1/D2 dedup with visible soft deletes, the view
forest, the analyst query set and ``prune``. Every result the benchmark gets
from the program is checked against it.
"""

from __future__ import annotations

import json
import os
import random
from collections import Counter, defaultdict
from dataclasses import dataclass, field

PAGE_DOCUMENTS = 10_000  # the reference's MAX_DOCUMENTS default

WORKORDER, CUSTOMER, PART = "WORKORDER", "CUSTOMER", "PART"
STATUSES = ("OPEN", "RELEASED", "DONE", "HELD")
REGIONS = ("NORTH", "SOUTH", "EAST", "WEST", "CENTRAL")
CATEGORIES = ("PUMP", "VALVE", "PIPE", "SENSOR")
_REF_MISS = 0.02  # share of references to documents that never land
_TYPE_CODE = {WORKORDER: 1, CUSTOMER: 2, PART: 3}
_TEXT = " ".join(random.Random(0).choice(("valve", "seal", "crew", "pad", "shift", "flow", "line",
                                          "check", "torque", "site", "hold", "pump")) for _ in range(120))

SCHEMA = {
    WORKORDER: {
        "ORDER_NO": {"NAME": "ORDER_NO", "ACTIVE": True, "TYPE": "TEXT", "NULLABLE": False},
        "STATUS": {"NAME": "STATUS", "ACTIVE": True, "TYPE": "TEXT", "NULLABLE": True},
        "TOTAL": {"NAME": "TOTAL", "ACTIVE": True, "TYPE": "DECIMAL", "NULLABLE": True},
        "PRIORITY": {"NAME": "PRIORITY", "ACTIVE": True, "TYPE": "INTEGER", "NULLABLE": True},
        "RUSH": {"NAME": "RUSH", "ACTIVE": True, "TYPE": "BOOLEAN", "NULLABLE": True},
        "DUE_AT": {"NAME": "DUE_AT", "ACTIVE": True, "TYPE": "DATETIME", "NULLABLE": True},
        "CUSTOMER": {"NAME": "CUSTOMER", "ACTIVE": True, "TYPE": "DOCUMENT", "NULLABLE": True,
                     "DOCUMENT_TYPE": CUSTOMER},
        "SITE": {"NAME": "SITE", "ACTIVE": True, "TYPE": "RECORD", "NULLABLE": True, "RECORD_TYPE": {
            "CITY": {"NAME": "CITY", "ACTIVE": True, "TYPE": "TEXT", "NULLABLE": True},
            "ZONE": {"NAME": "ZONE", "ACTIVE": True, "TYPE": "INTEGER", "NULLABLE": True}}},
        "LINES": {"NAME": "LINES", "ACTIVE": True, "TYPE": "RECORD LIST", "NULLABLE": True, "RECORD_TYPE": {
            "PART": {"NAME": "PART", "ACTIVE": True, "TYPE": "DOCUMENT", "NULLABLE": True,
                     "DOCUMENT_TYPE": PART},
            "QTY": {"NAME": "QTY", "ACTIVE": True, "TYPE": "INTEGER", "NULLABLE": True},
            "PRICE": {"NAME": "PRICE", "ACTIVE": True, "TYPE": "DECIMAL", "NULLABLE": True}}},
    },
    CUSTOMER: {
        "NAME": {"NAME": "NAME", "ACTIVE": True, "TYPE": "TEXT", "NULLABLE": False},
        "REGION": {"NAME": "REGION", "ACTIVE": True, "TYPE": "TEXT", "NULLABLE": True},
        "TIER": {"NAME": "TIER", "ACTIVE": True, "TYPE": "INTEGER", "NULLABLE": True},
    },
    PART: {
        "NAME": {"NAME": "NAME", "ACTIVE": True, "TYPE": "TEXT", "NULLABLE": False},
        "CATEGORY": {"NAME": "CATEGORY", "ACTIVE": True, "TYPE": "TEXT", "NULLABLE": True},
        "WEIGHT": {"NAME": "WEIGHT", "ACTIVE": True, "TYPE": "DECIMAL", "NULLABLE": True},
    },
}

# The view forest create_views compiles from SCHEMA: roots, one RECORD child
# and one RECORD LIST child.
VIEWS = (WORKORDER, f"{WORKORDER}_SITE", f"{WORKORDER}_LINES", CUSTOMER, PART)

# The fixed analyst query set, one per query class. DECIMAL values are
# generated as multiples of 1/4, so every sum is exact in double precision and
# the truth can be compared with ==.
QUERIES = {
    "list_explode": (
        f"SELECT count(*) AS n, sum(QTY) AS qty, sum(QTY * PRICE) AS amount FROM {WORKORDER}_LINES"
    ),
    "doc_join": (
        f"SELECT c.REGION, count(*) AS n, sum(w.TOTAL) AS total FROM {WORKORDER} w "
        f"JOIN {CUSTOMER} c ON w.CUSTOMER = c.DOCUMENT_ID "
        "WHERE NOT w._DELETED AND NOT c._DELETED GROUP BY c.REGION"
    ),
}


def make_document(seed: int, dtype: str, n: int, version: int, deleted: bool,
                  n_refs: tuple[int, int]) -> dict:
    """Document ``n`` of ``dtype`` at ``version``. The payload depends only on
    (seed, dtype, n, version), so every copy of a version is identical."""
    rand = random.Random(((seed * 7 + _TYPE_CODE[dtype]) << 40) + (n << 12) + version).random

    def between(lo: int, hi: int) -> int:
        return lo + int(rand() * (hi - lo + 1))

    def pick(options: tuple):
        return options[int(rand() * len(options))]

    def quarters(lo: int, hi: int) -> float:
        return between(lo * 4, hi * 4) / 4

    doc = {
        "$TYPE": dtype,
        "DOCUMENT_ID": doc_id(dtype, n),
        "$VERSION": version,
        "$AUTHOR_ID": f"u-{between(1, 40)}",
        "$DATE": f"2026-{between(1, 9):02d}-{between(1, 28):02d}T{between(0, 23):02d}:{between(0, 59):02d}:00Z",
        "$DELETED": deleted,
    }
    n_customers, n_parts = n_refs
    if dtype == WORKORDER:
        def ref(kind: str, count: int) -> dict:
            # a few references point past the generated range: dangling FKs
            return {"DOCUMENT_ID": doc_id(kind, int(rand() * count * (1 + _REF_MISS)))}

        doc.update(
            ORDER_NO=f"WO-{n:07d}",
            STATUS=pick(STATUSES),
            TOTAL=quarters(10, 5000),
            PRIORITY=between(1, 5),
            RUSH=rand() < 0.2,
            DUE_AT=f"2026-{between(1, 12):02d}-{between(1, 28):02d}T08:00:00Z",
            CUSTOMER=ref(CUSTOMER, n_customers),
            SITE={"CITY": f"CITY-{between(1, 60)}", "ZONE": between(1, 8)},
            LINES=[
                {"LISTITEM_ID": f"li-{i}", "PART": ref(PART, n_parts),
                 "QTY": between(1, 20), "PRICE": quarters(1, 400)}
                for i in range(between(0, 5))
            ],
            NOTES=_TEXT[between(0, 199):][: between(40, 160)],
        )
    elif dtype == CUSTOMER:
        doc.update(NAME=f"Customer {n}", REGION=pick(REGIONS), TIER=between(1, 3))
    else:
        doc.update(NAME=f"Part {n}", CATEGORY=pick(CATEGORIES), WEIGHT=quarters(1, 90))
    return doc


def doc_id(dtype: str, n: int) -> str:
    return f"{dtype[:3].lower()}-{n:07d}"


def to_line(doc: dict) -> str:
    return json.dumps(doc, separators=(",", ":"))


def malformed_line(line: str, kind: int) -> str:
    """A line the landing parse must drop: cut before the identity fields
    complete, or not JSON at all."""
    return (line[:14], "<html>503 Service Unavailable</html>", line[: line.index('"$VERSION"')])[kind % 3]


def identityless_line(doc: dict, kind: int) -> str:
    """Valid JSON missing one of $TYPE / DOCUMENT_ID / $VERSION."""
    bad = dict(doc)
    bad.pop(("$TYPE", "DOCUMENT_ID", "$VERSION")[kind % 3])
    return to_line(bad)


@dataclass
class Mix:
    """How many of each line kind a page carries, per 1,000 lines."""

    dups: int = 0          # exact copies of a line already in the page
    malformed: int = 0
    identityless: int = 0


class FeedGen:
    """A document population and its change stream.

    ``backlog`` emits every document's history up to a depth (the initial
    clone), ``churn`` emits incremental pages of revisions, new documents and
    soft deletes. Both keep per-document versions increasing across the
    whole feed.
    """

    def __init__(self, seed: int, n_workorders: int, n_customers: int, n_parts: int):
        self.seed = seed
        self.rng = random.Random(seed)
        self.counts = {WORKORDER: n_workorders, CUSTOMER: n_customers, PART: n_parts}
        self.version: dict[tuple[str, int], int] = {}
        self.deleted: set[tuple[str, int]] = set()

    def _emit(self, dtype: str, n: int, delete: bool = False) -> dict:
        key = (dtype, n)
        v = self.version.get(key, 0) + 1
        self.version[key] = v
        if delete:
            self.deleted.add(key)
        return make_document(self.seed, dtype, n, v, delete,
                             (self.counts[CUSTOMER], self.counts[PART]))

    def backlog(self, max_versions: int, delete_share: float = 0.02) -> list[dict]:
        """Every document at versions 1..h (h uniform in 1..max_versions),
        emitted round by round so versions increase along the feed; a share
        of histories ends in a soft delete."""
        depth = {
            (t, n): self.rng.randint(1, max_versions)
            for t, count in self.counts.items() for n in range(count)
        }
        docs = []
        for r in range(1, max_versions + 1):
            keys = [k for k, h in depth.items() if h >= r]
            self.rng.shuffle(keys)
            for key in keys:
                last = depth[key] == r
                docs.append(self._emit(*key, delete=last and r > 1 and self.rng.random() < delete_share))
        return docs

    def churn(self, n_docs: int, new_share: float = 0.1, delete_share: float = 0.03) -> list[dict]:
        """Revisions of live documents, plus new documents and soft deletes."""
        docs = []
        touched: set[tuple[str, int]] = set()
        while len(docs) < n_docs:
            u = self.rng.random()
            if u < new_share:
                dtype = self.rng.choice((WORKORDER, WORKORDER, CUSTOMER, PART))
                n = self.counts[dtype]
                self.counts[dtype] += 1
                docs.append(self._emit(dtype, n))
                continue
            dtype = WORKORDER if self.rng.random() < 0.8 else CUSTOMER
            key = (dtype, self.rng.randrange(self.counts[dtype]))
            # one version of a document per page, never revive a delete
            if key in touched or key in self.deleted:
                continue
            touched.add(key)
            docs.append(self._emit(*key, delete=self.rng.random() < delete_share))
        return docs

    def lines(self, docs: list[dict], mix: Mix) -> list[str]:
        """Serialise ``docs`` and splice in the ``mix`` of extra lines at
        seeded positions."""
        out = [to_line(d) for d in docs]
        per = len(docs) / 1000
        for kind in range(round(mix.malformed * per)):
            d = self.rng.choice(docs)
            out.insert(self.rng.randrange(len(out) + 1), malformed_line(to_line(d), kind))
        for kind in range(round(mix.identityless * per)):
            d = self.rng.choice(docs)
            out.insert(self.rng.randrange(len(out) + 1), identityless_line(d, kind))
        for _ in range(round(mix.dups * per)):
            out.insert(self.rng.randrange(len(out) + 1), to_line(self.rng.choice(docs)))
        return out


def paginate(lines: list[str], page_size: int = PAGE_DOCUMENTS) -> list[list[str]]:
    return [lines[i:i + page_size] for i in range(0, len(lines), page_size)]


def write_page(feed_dir: str, index: int, lines: list[str]) -> str:
    """Write one page as ``p<index>.ndjson``; the name is its highwater mark
    for ``FileFeedSource``. Returns the file name."""
    os.makedirs(feed_dir, exist_ok=True)
    name = f"p{index:06d}.ndjson"
    with open(os.path.join(feed_dir, name), "w") as f:
        f.write("\n".join(lines) + "\n")
    return name


def write_schema(feed_dir: str) -> None:
    os.makedirs(feed_dir, exist_ok=True)
    with open(os.path.join(feed_dir, "schema.json"), "w") as f:
        json.dump(SCHEMA, f, sort_keys=True)


# ---------------------------------------------------------------- truth model

@dataclass
class Landed:
    """The landing outcome of one page, by line kind."""

    lines_in: int
    malformed: int
    identityless: int
    in_page_dups: int
    docs: dict[tuple[str, str, int], dict] = field(default_factory=dict)

    @property
    def rows_out(self) -> int:
        return len(self.docs)


def land(lines: list[str]) -> Landed:
    """What ``land_ndjson_lines`` keeps of a page: rows keyed on
    (type, id, version) (chunk is always 0: the benchmark lands unchunked)."""
    out = Landed(len(lines), 0, 0, 0)
    for line in lines:
        try:
            doc = json.loads(line)
        except json.JSONDecodeError:
            out.malformed += 1
            continue
        if not isinstance(doc, dict):
            out.malformed += 1
            continue
        if any(doc.get(k) is None for k in ("$TYPE", "DOCUMENT_ID", "$VERSION")):
            out.identityless += 1
            continue
        key = (doc["$TYPE"], doc["DOCUMENT_ID"], int(doc["$VERSION"]))
        if key in out.docs:
            out.in_page_dups += 1
        out.docs[key] = doc
    return out


class Truth:
    """The landing log as the program must hold it: every landed copy of
    every (type, id, version), txn markers, and the snapshot's mark."""

    def __init__(self):
        self.copies: Counter = Counter()          # (type, id, version) -> rows in the log
        self.docs: dict[tuple[str, str, int], dict] = {}
        self.txns: set[str] = set()
        self.unrefreshed: set[str] = set()        # types landed since the last refresh
        self.bytes_in = 0                          # feed bytes of every page that landed

    def append(self, landed: Landed, txn_id: str | None) -> int:
        """``ParquetSink.append``: a marked txn is a no-op returning 0."""
        if txn_id is not None:
            if txn_id in self.txns:
                return 0
            self.txns.add(txn_id)
        for key, doc in landed.docs.items():
            self.copies[key] += 1
            self.docs[key] = doc
            self.unrefreshed.add(key[0])
        return landed.rows_out

    def sync(self, pages: list[tuple[str, list[str]]], force: bool) -> int:
        """``sync_once`` over ``(highwater_mark, lines)`` pages."""
        total = 0
        for mark, lines in pages:
            n = self.append(land(lines), None if force else mark)
            if n:
                self.bytes_in += sum(len(line.encode()) + 1 for line in lines)
            total += n
        return total

    def refresh(self) -> set[str]:
        """Types ``refresh_latest`` rewrites (all types when it materializes)."""
        touched, self.unrefreshed = self.unrefreshed, set()
        return touched

    def prune(self) -> int:
        """Rows ``prune`` removes: every copy but the newest of each version."""
        removed = sum(c - 1 for c in self.copies.values())
        self.copies = Counter({k: 1 for k in self.copies})
        return removed

    @property
    def log_rows(self) -> int:
        return sum(self.copies.values())

    def latest(self) -> dict[tuple[str, str], dict]:
        """D2: the max-version document of each (type, id), deletes kept."""
        best: dict[tuple[str, str], dict] = {}
        for (t, i, v), doc in self.docs.items():
            cur = best.get((t, i))
            if cur is None or v > cur["$VERSION"]:
                best[(t, i)] = doc
        return best

    def latest_by_type(self) -> dict[tuple[str, bool], int]:
        """Snapshot rows per (type, deleted)."""
        return dict(Counter((t, bool(d["$DELETED"])) for (t, _), d in self.latest().items()))

    def view_rows(self) -> dict[str, int]:
        latest = self.latest()
        orders = [d for (t, _), d in latest.items() if t == WORKORDER]
        return {
            WORKORDER: len(orders),
            f"{WORKORDER}_SITE": len(orders),
            f"{WORKORDER}_LINES": sum(len(d["LINES"]) for d in orders),
            CUSTOMER: sum(1 for (t, _) in latest if t == CUSTOMER),
            PART: sum(1 for (t, _) in latest if t == PART),
        }

    def answers(self) -> dict[str, list[tuple]]:
        """Each query's result rows, sorted."""
        latest = self.latest()
        by_type = defaultdict(dict)
        for (t, i), d in latest.items():
            by_type[t][i] = d
        orders = list(by_type[WORKORDER].values())
        live = [d for d in orders if not d["$DELETED"]]
        lines = [ln for d in orders for ln in d["LINES"]]

        def grouped(rows, key, *vals):
            acc: dict = {}
            for r in rows:
                k = key(r)
                cur = acc.setdefault(k, [0] * len(vals))
                for j, f in enumerate(vals):
                    cur[j] += f(r)
            return sorted((k, *v) for k, v in acc.items())

        customers = {i: d for i, d in by_type[CUSTOMER].items() if not d["$DELETED"]}
        joined = [(d, customers[d["CUSTOMER"]["DOCUMENT_ID"]]) for d in live
                  if d["CUSTOMER"]["DOCUMENT_ID"] in customers]
        return {
            "list_explode": [(len(lines), sum(ln["QTY"] for ln in lines) if lines else None,
                              sum(ln["QTY"] * ln["PRICE"] for ln in lines) if lines else None)],
            "doc_join": grouped(joined, lambda p: p[1]["REGION"], lambda p: 1, lambda p: p[0]["TOTAL"]),
        }
