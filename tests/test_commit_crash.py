"""Crash matrix for the one commit protocol of the store and its
materialized views (operators/manifest.py).

A crash is a BaseException raised from inside the commit path by a
test-only monkeypatch, at each step of a store commit: after staging,
after the first hard link, after the history record but before the
MANIFEST commit, and after it. At every step readers must see the old
snapshot or the new one, the next writer must commit, and a replayed
merge txn must apply exactly once. A crashed view refresh must leave a
view whose next refresh equals a full recompute. Also covered: a store
in the old `_LATEST` + `_META` layout converts on open, and store and
view roots hold only the layout's files."""

from __future__ import annotations

import builtins
import json
import os
import re

import pytest

from csv_crm_upload_spark.operators.manifest import read_manifest
from csv_crm_upload_spark.operators.matview import MaterializedAggregate
from csv_crm_upload_spark.operators.mutate import finalize_columns
from csv_crm_upload_spark.operators.store import CustomerStore

COLS = ["id", "first_name", "last_name", "email", "phone"]
ROWS = [
    (1, "jon", "doe", "jon@x.com", "1"),
    (2, "jane", "doe", "jane@y.com", "2"),
    (3, "ann", "lee", "ann@x.com", "3"),
]
UPSERT = [(1, "jon", "doe", "jon@x.com", "99"), (4, "kim", "ng", "kim@z.com", "4")]
NOW = "2026-01-01 00:00:00"
POINTS = ["after_stage", "after_first_link", "before_commit", "after_commit"]


class Crash(BaseException):
    """Not an Exception, so no `except Exception` on the write path
    can swallow it — the closest in-process stand-in for a kill."""


def _rows(df) -> set[tuple]:
    return {tuple(r) for r in df.collect()}


def _store(spark, root, **kw) -> CustomerStore:
    store = CustomerStore(spark, root, **kw)
    store.append(finalize_columns(spark.createDataFrame(ROWS, COLS), now=NOW))
    return store


def _arm(monkeypatch, store: CustomerStore, point: str) -> None:
    """Make the store's next commit raise Crash at `point`. The commit
    point is the atomic rename onto the store's pointer file (MANIFEST;
    `_LATEST` in the old layout)."""
    if point == "after_stage":
        real_stage = store._stage

        def stage(batch):
            real_stage(batch)
            raise Crash

        monkeypatch.setattr(store, "_stage", stage)
        return
    if point == "after_first_link":
        real_link = os.link

        def link(src, dst):
            real_link(src, dst)
            raise Crash

        monkeypatch.setattr(os, "link", link)
        return
    real_replace = os.replace
    pointers = {os.path.join(store.root, n) for n in ("MANIFEST", "_LATEST")}

    def replace(src, dst):
        if dst in pointers and point == "before_commit":
            raise Crash
        real_replace(src, dst)
        if dst in pointers:
            raise Crash

    monkeypatch.setattr(os, "replace", replace)


@pytest.mark.parametrize("point", POINTS)
def test_crashed_merge_leaves_old_or_new_and_replays_once(spark, tmp_path, monkeypatch, point):
    store = _store(spark, str(tmp_path / "store"))
    before = _rows(store.read())
    upsert = spark.createDataFrame(UPSERT, COLS)
    _arm(monkeypatch, store, point)
    with pytest.raises(Crash):
        store.merge(upsert, now=NOW, txn=("app", 0))
    monkeypatch.undo()

    seen = _rows(store.read())
    assert store.versions()[-1] == store._current_version()
    assert "unknown" not in {h["operation"] for h in store.history()}

    store.merge(upsert, now=NOW, txn=("app", 0))  # the replay after restart
    after = _rows(store.read())
    assert after != before
    assert seen in (before, after)  # never a mix
    assert [h["operation"] for h in store.history()].count("merge") == 1
    assert store.merge(upsert, now=NOW, txn=("app", 0))["applied"] is False
    assert store.last_txn("app") == 0

    # the replay above was the next merge; the other writers commit too
    fresh = [(5, "eve", "ox", "eve@z.com", "5")]
    assert store.append_unique(finalize_columns(spark.createDataFrame(fresh, COLS))) == 1
    assert store.mark_uploaded(spark.createDataFrame([("jon@x.com",)], ["email"])) == 1


def test_crashed_refresh_then_refresh_equals_full_recompute(spark, tmp_path, monkeypatch):
    store = _store(spark, str(tmp_path / "store"))
    view = MaterializedAggregate(
        store, str(tmp_path / "view"), group_cols=["uploaded"], measures={"sum_id": "id"}
    )
    view.refresh()
    committed = _rows(view.read())
    store.mark_uploaded(spark.createDataFrame([("jon@x.com",)], ["email"]))

    real_open = builtins.open

    def open_(file, mode="r", *a, **k):  # crash as the commit record is written
        if "w" in mode and str(file).startswith(view.root):
            raise Crash
        return real_open(file, mode, *a, **k)

    monkeypatch.setattr(builtins, "open", open_)
    with pytest.raises(Crash):
        view.refresh()
    monkeypatch.undo()

    assert _rows(view.read()) == committed
    assert view.refresh()["version"] == store._current_version()
    assert _rows(view.read()) == _rows(view._full_aggregate(store.read()))


def test_old_layout_store_converts_on_open(spark, tmp_path):
    root = str(tmp_path / "store")
    store = _store(spark, root, n_buckets=4)
    store.add_column("tier", "string", default="gold")
    rows = _rows(store.read())
    # replace the commit point by one in the old layout, written by hand
    with open(os.path.join(root, "_LATEST"), "w") as f:
        f.write(str(store._current_version()))
    meta = {
        "n_buckets": 4,
        "extra_cols": [{"name": "tier", "type": "string", "default": "gold"}],
        "retired_physicals": ["old_col"],
        "phys_counter": 2,
        "constraints": {"id_positive": "id > 0"},
        "txn": {"app": 3},
    }
    with open(os.path.join(root, "_META"), "w") as f:
        json.dump(meta, f)
    os.remove(os.path.join(root, "MANIFEST"))

    reopened = CustomerStore(spark, root)  # the default bucket count must not win
    assert reopened.n_buckets == 4
    assert _rows(reopened.read()) == rows
    assert reopened._constraints() == {"id_positive": "id > 0"}
    assert reopened.last_txn("app") == 3
    m = read_manifest(root)
    assert m["retired_physicals"] == ["old_col"] and m["phys_counter"] == 2
    assert m["extra_cols"] == meta["extra_cols"]
    assert not {"_LATEST", "_META"} & set(os.listdir(root))
    upsert = spark.createDataFrame(UPSERT, COLS)
    assert reopened.merge(upsert, txn=("app", 3))["applied"] is False


def test_store_and_view_roots_hold_only_the_layout(spark, tmp_path):
    store = _store(spark, str(tmp_path / "store"))
    view = MaterializedAggregate(store, str(tmp_path / "view"), group_cols=["uploaded"])
    view.refresh()
    store.add_column("tier", "string")
    store.add_constraint("id_positive", "id > 0")
    store.mark_uploaded(spark.createDataFrame([("jon@x.com",)], ["email"]))
    store.delete("id = 2")
    view.refresh()
    assert all(n == "MANIFEST" or re.fullmatch(r"v\d{8}", n) for n in os.listdir(store.root))
    assert sorted(os.listdir(view.root)) == ["MANIFEST", "epoch=1"]
