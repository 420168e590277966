"""Spark-free tests of the feed generator and its truth model.

    python -m pytest eltperf/tests/test_feed.py -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import feed  # noqa: E402

BACKLOG_MIX = feed.Mix(dups=6, malformed=3, identityless=3)
CHURN_MIX = feed.Mix(dups=12, malformed=8, identityless=8)


def _doc(dtype, n, version, deleted=False):
    return feed.make_document(7, dtype, n, version, deleted, (10, 10))


def hand_built_page() -> list[str]:
    """Three landable documents, one exact in-page duplicate, two malformed
    lines and three lines missing identity."""
    a1, a2, c1 = _doc(feed.WORKORDER, 1, 1), _doc(feed.WORKORDER, 1, 2), _doc(feed.CUSTOMER, 3, 1)
    no_id = dict(a1)
    del no_id["DOCUMENT_ID"]
    no_type = dict(c1)
    del no_type["$TYPE"]
    null_version = dict(a2, **{"$VERSION": None})
    return [
        feed.to_line(a1),
        "not json at all",
        feed.to_line(c1),
        feed.to_line(no_id),
        feed.to_line(c1),                 # exact duplicate
        feed.to_line(a2)[:14],            # cut inside $TYPE
        feed.to_line(no_type),
        feed.to_line(a2),
        feed.to_line(null_version),
    ]


def test_hand_built_page_counts():
    landed = feed.land(hand_built_page())
    assert (landed.lines_in, landed.malformed, landed.identityless, landed.in_page_dups, landed.rows_out) == (
        9, 2, 3, 1, 3)
    assert sorted(landed.docs) == [("CUSTOMER", "cus-0000003", 1), ("WORKORDER", "wor-0000001", 1),
                                   ("WORKORDER", "wor-0000001", 2)]


def test_generated_bad_lines_are_classified_as_generated():
    gen = feed.FeedGen(3, 300, 50, 20)
    docs = gen.backlog(3)
    lines = gen.lines(docs, BACKLOG_MIX)
    landed = feed.land(lines)
    per = len(docs) / 1000
    assert landed.malformed == round(BACKLOG_MIX.malformed * per)
    assert landed.identityless == round(BACKLOG_MIX.identityless * per)
    assert landed.in_page_dups == round(BACKLOG_MIX.dups * per)
    assert landed.rows_out == len(docs)


def _write_all(tmp_path, seed) -> dict[str, bytes]:
    gen = feed.FeedGen(seed, 200, 40, 20)
    lines = gen.lines(gen.backlog(4), BACKLOG_MIX)
    d = str(tmp_path / f"feed{seed}-{len(os.listdir(tmp_path))}")
    for i, page in enumerate(feed.paginate(lines, 300)):
        feed.write_page(d, i, page)
    for i in range(3):
        feed.write_page(d, 100 + i, gen.lines(gen.churn(50), CHURN_MIX))
    feed.write_schema(d)
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_same_seed_writes_identical_pages(tmp_path):
    first, second = _write_all(tmp_path, 11), _write_all(tmp_path, 11)
    assert first == second
    assert _write_all(tmp_path, 12) != first


def test_versions_increase_along_the_feed():
    gen = feed.FeedGen(5, 200, 40, 20)
    docs = gen.backlog(4) + gen.churn(150) + gen.churn(150)
    last: dict = {}
    for d in docs:
        key = (d["$TYPE"], d["DOCUMENT_ID"])
        assert d["$VERSION"] == last.get(key, 0) + 1
        last[key] = d["$VERSION"]
    deleted = {(d["$TYPE"], d["DOCUMENT_ID"]) for d in docs if d["$DELETED"]}
    # a soft delete is a document's last version: never revived
    assert all(last[k] == max(d["$VERSION"] for d in docs if (d["$TYPE"], d["DOCUMENT_ID"]) == k)
               for k in deleted)


def test_same_version_has_same_payload():
    assert _doc(feed.WORKORDER, 4, 2) == _doc(feed.WORKORDER, 4, 2)
    assert _doc(feed.WORKORDER, 4, 2) != _doc(feed.WORKORDER, 4, 3)


def test_txn_replay_is_skipped_and_force_relands():
    t = feed.Truth()
    page = ("p000000.ndjson", hand_built_page())
    assert t.sync([page], force=False) == 3
    assert t.sync([page], force=False) == 0       # replay after a crash: txn marker exists
    assert t.log_rows == 3
    assert t.sync([page], force=True) == 3        # a forced clone bypasses the guard
    assert t.log_rows == 6
    assert t.prune() == 3
    assert t.log_rows == 3 and t.prune() == 0


def test_refresh_reports_types_landed_since_last_refresh():
    t = feed.Truth()
    t.sync([("p0", hand_built_page())], force=False)
    assert t.refresh() == {"WORKORDER", "CUSTOMER"}
    assert t.refresh() == set()
    t.sync([("p1", [feed.to_line(_doc(feed.PART, 1, 1))])], force=False)
    assert t.refresh() == {"PART"}


def test_latest_keeps_max_version_and_visible_deletes():
    t = feed.Truth()
    lines = [feed.to_line(d) for d in (
        _doc(feed.WORKORDER, 1, 1), _doc(feed.WORKORDER, 1, 2),
        _doc(feed.WORKORDER, 2, 1), _doc(feed.WORKORDER, 2, 2, deleted=True),
        _doc(feed.CUSTOMER, 1, 1))]
    t.sync([("p0", lines)], force=False)
    latest = t.latest()
    assert {k: d["$VERSION"] for k, d in latest.items()} == {
        ("WORKORDER", "wor-0000001"): 2, ("WORKORDER", "wor-0000002"): 2, ("CUSTOMER", "cus-0000001"): 1}
    assert t.latest_by_type() == {("WORKORDER", False): 1, ("WORKORDER", True): 1, ("CUSTOMER", False): 1}
    assert len(t.copies) == 5 and t.log_rows == 5


def test_answers_on_a_hand_built_log():
    wo = [_doc(feed.WORKORDER, n, 1) for n in range(4)]
    for d in wo:
        d.update(STATUS="OPEN", TOTAL=10.25, CUSTOMER={"DOCUMENT_ID": "cus-0000001"},
                 SITE={"CITY": "X", "ZONE": 1},
                 LINES=[{"LISTITEM_ID": "li-0", "PART": {"DOCUMENT_ID": "par-0000001"}, "QTY": 2, "PRICE": 1.5}])
    wo[3].update(**{"$DELETED": True})
    wo[2]["CUSTOMER"] = {"DOCUMENT_ID": "cus-0009999"}        # dangling reference
    cus = dict(_doc(feed.CUSTOMER, 1, 1), REGION="NORTH")
    part = dict(_doc(feed.PART, 1, 1), CATEGORY="PUMP")
    t = feed.Truth()
    t.sync([("p0", [json.dumps(d) for d in wo + [cus, part]])], force=False)
    a = t.answers()
    assert a["list_explode"] == [(4, 8, 12.0)]
    assert a["doc_join"] == [("NORTH", 2, 20.5)]
    assert t.view_rows() == {"WORKORDER": 4, "WORKORDER_SITE": 4, "WORKORDER_LINES": 4, "CUSTOMER": 1, "PART": 1}
