"""The Delta checkpoint format: one action encoder behind four file forms.

A hand-written log (no Spark: partition values including a null one,
remove tombstones, txns, live and tombstoned domains, row-tracking
fields, and a deletion vector when the protocol has reader features) is
checkpointed in the classic, multi-part, V2-parquet and V2-JSON forms.
Each written file's Arrow schema is pinned, and folding the log back from
the checkpoint alone gives the snapshot that replaying the JSON commits
gives. An AST scan checks that each checkpoint action's Arrow type is
built in one place.
"""

from __future__ import annotations

import ast
import json
import os
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from rtcdb_spark.sources import delta_log as dl

SCHEMA = json.dumps({"type": "struct", "fields": [
    {"name": "k", "type": "long", "nullable": True, "metadata": {}},
    {"name": "p", "type": "string", "nullable": True, "metadata": {}},
]})

_META = (
    "struct<id: string, format: struct<provider: string, options: "
    "map<string, string ('options')>>, schemaString: string, "
    "partitionColumns: list<element: string>, configuration: "
    "map<string, string ('configuration')>, createdTime: int64>"
)
_ADD_HEAD = (
    "path: string, partitionValues: map<string, string "
    "('partitionValues')>, size: int64, modificationTime: int64, "
    "dataChange: bool, stats: string, "
)
_ADD_TAIL = "baseRowId: int64, defaultRowCommitVersion: int64>"
_REMOVE = "struct<path: string, deletionTimestamp: int64, dataChange: bool>"
_TXN = "struct<appId: string, version: int64, lastUpdated: int64>"
_DOMAIN = "struct<domain: string, configuration: string, removed: bool>"

CLASSIC_SCHEMA = {
    "protocol": "struct<minReaderVersion: int32, minWriterVersion: int32, "
    "writerFeatures: list<element: string>>",
    "metaData": _META,
    "add": "struct<" + _ADD_HEAD + _ADD_TAIL,
    "remove": _REMOVE,
    "txn": _TXN,
    "domainMetadata": _DOMAIN,
}
V2_TOP_SCHEMA = {
    "checkpointMetadata": "struct<version: int64>",
    "protocol": "struct<minReaderVersion: int32, minWriterVersion: int32, "
    "readerFeatures: list<element: string>, writerFeatures: "
    "list<element: string>>",
    "metaData": _META,
    "txn": _TXN,
    "domainMetadata": _DOMAIN,
    "sidecar": "struct<path: string, sizeInBytes: int64, "
    "modificationTime: int64>",
}
SIDECAR_SCHEMA = {
    "add": "struct<" + _ADD_HEAD + "deletionVector: struct<storageType: "
    "string, pathOrInlineDv: string, offset: int64, sizeInBytes: int64, "
    "cardinality: int64>, " + _ADD_TAIL,
    "remove": _REMOVE,
}
CLASSIC_ORDER = (
    ["protocol", "metaData"] + ["add"] * 3 + ["remove"] * 2
    + ["txn"] * 2 + ["domainMetadata"] * 2
)
V2_TOP_ORDER = (
    ["checkpointMetadata", "protocol", "metaData"] + ["txn"] * 2
    + ["domainMetadata"] * 2 + ["sidecar"] * 2
)


def _add(name, p, base, commit, **extra):
    return {"add": {
        "path": f"p={p}/{name}.parquet" if p else f"{name}.parquet",
        "partitionValues": {"p": p},
        "size": 100 + base,
        "modificationTime": 1700000000000 + base,
        "dataChange": True,
        "stats": json.dumps({"numRecords": 3}),
        "baseRowId": base,
        "defaultRowCommitVersion": commit,
        **extra,
    }}


def _write_log(path: str, dv: bool) -> None:
    """Four commits: adds in two partitions and the null partition,
    txns from two apps (one advanced), a live and a tombstoned domain,
    two remove tombstones; with ``dv`` the table has the
    deletionVectors reader feature and one add carries an inline DV."""
    log = os.path.join(path, "_delta_log")
    os.makedirs(log)
    writer_features = ["domainMetadata", "rowTracking"]
    proto = (
        {"minReaderVersion": 3, "minWriterVersion": 7,
         "readerFeatures": ["deletionVectors"],
         "writerFeatures": ["deletionVectors"] + writer_features}
        if dv else
        {"minReaderVersion": 1, "minWriterVersion": 7,
         "writerFeatures": writer_features}
    )
    dv_action = {"deletionVector": {
        "storageType": "i", "pathOrInlineDv": "wi5b=000010000siXQKl0rr91000f",
        "offset": None, "sizeInBytes": 40, "cardinality": 2,
    }} if dv else {}
    commits = [
        [{"protocol": proto},
         {"metaData": {
             "id": "fixture", "format": {"provider": "parquet", "options": {}},
             "schemaString": SCHEMA, "partitionColumns": ["p"],
             "configuration": {"delta.enableRowTracking": "true"},
             "createdTime": 1700000000000}},
         _add("a", "x", 0, 0), _add("b", None, 3, 0)],
        [{"txn": {"appId": "app1", "version": 3,
                  "lastUpdated": 1700000001000}},
         _add("c", "y", 6, 1),
         {"domainMetadata": {
             "domain": "delta.rowTracking",
             "configuration": json.dumps({"rowIdHighWaterMark": 8}),
             "removed": False}}],
        [{"remove": {"path": "p=x/a.parquet",
                     "deletionTimestamp": 1700000002000, "dataChange": True}},
         {"txn": {"appId": "app0", "version": 9}},
         {"domainMetadata": {"domain": "user.z", "configuration": "{}",
                             "removed": True}}],
        [_add("d", "x", 9, 3, **dv_action),
         {"txn": {"appId": "app1", "version": 4,
                  "lastUpdated": 1700000003000}},
         {"remove": {"path": "gone.parquet",
                     "deletionTimestamp": 1700000003000,
                     "dataChange": False}}],
    ]
    for v, actions in enumerate(commits):
        with open(os.path.join(log, f"{v:020d}.json"), "w") as fh:
            fh.writelines(json.dumps(a) + "\n" for a in actions)


def _schema(f: str) -> dict[str, str]:
    return {field.name: str(field.type) for field in pq.read_schema(f)}


def _kinds(rows: list[dict]) -> list[str]:
    return [next(k for k, v in r.items() if v is not None) for r in rows]


def _snapshot(path: str) -> dict:
    """The folded snapshot, each action's null fields dropped (the JSON
    commits omit fields a checkpoint stores as null)."""
    _meta, _adds, state = dl._snapshot_state(path)
    return {
        k: {key: {f: v for f, v in a.items() if v is not None}
            for key, a in state[k].items()}
        for k in ("adds", "removes", "txns", "domains")
    } | {"meta": state["meta"]}


FORMS = {
    "classic": lambda p: dl.checkpoint_delta(p),
    "parts3": lambda p: dl.checkpoint_delta(p, parts=3),
    "v2_parquet": lambda p: dl.checkpoint_delta_v2(p, sidecars=2),
    "v2_json": lambda p: dl.checkpoint_delta_v2(p, fmt="json"),
}


@pytest.mark.parametrize("dv", [False, True], ids=["reader1", "dv"])
@pytest.mark.parametrize("form", list(FORMS))
def test_checkpoint_schema_and_fold(tmp_path, form, dv):
    path = str(tmp_path / "t")
    _write_log(path, dv)
    log = os.path.join(path, "_delta_log")
    if dv and not form.startswith("v2"):
        with pytest.raises(NotImplementedError, match="reader features"):
            FORMS[form](path)
        return
    want = _snapshot(path)
    before = set(os.listdir(log))
    assert FORMS[form](path) == 3
    new = sorted(set(os.listdir(log)) - before - {"_sidecars"})
    assert not [f for f in new if ".tmp" in f]
    pointer = json.load(open(os.path.join(log, "_last_checkpoint")))
    tops = [f for f in new if f != "_last_checkpoint"]
    if form == "classic":
        assert tops == [dl._checkpoint_name(3)]
        assert pointer == {"version": 3, "size": len(CLASSIC_ORDER)}
    if form == "parts3":
        assert tops == [dl._checkpoint_name(3, i, 3) for i in (1, 2, 3)]
        assert pointer == {"version": 3, "size": len(CLASSIC_ORDER), "parts": 3}
    if form.startswith("v2"):
        assert len(tops) == 1 and dl._parse_checkpoint_name(tops[0]) == (3, 0, 0)
        assert pointer == {"version": 3, "size": len(V2_TOP_ORDER)}
        sidecars = sorted(os.listdir(os.path.join(log, "_sidecars")))
        assert len(sidecars) == 2
        file_rows = []
        for s in sidecars:
            f = os.path.join(log, "_sidecars", s)
            assert _schema(f) == SIDECAR_SCHEMA
            file_rows += pq.read_table(f).to_pylist()
        assert _kinds(file_rows) == ["add"] * 3 + ["remove"] * 2
    if form in ("classic", "parts3"):
        rows = []
        for f in tops:
            assert _schema(os.path.join(log, f)) == CLASSIC_SCHEMA
            rows += pq.read_table(os.path.join(log, f)).to_pylist()
        assert _kinds(rows) == CLASSIC_ORDER
        assert rows[0]["protocol"] == {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["domainMetadata", "rowTracking"],
        }
    if form == "v2_parquet":
        assert _schema(os.path.join(log, tops[0])) == V2_TOP_SCHEMA
        assert _kinds(pq.read_table(os.path.join(log, tops[0])).to_pylist()) == (
            V2_TOP_ORDER
        )
    if form == "v2_json":
        with open(os.path.join(log, tops[0])) as fh:
            lines = [json.loads(ln) for ln in fh]
        assert [list(r) for r in lines] == [[k] for k in V2_TOP_ORDER]
        assert lines[1]["protocol"]["readerFeatures"] == sorted(
            (["deletionVectors"] if dv else []) + ["v2Checkpoint"]
        )
    for f in os.listdir(log):
        if f.endswith(".json") and len(f) == 25:
            os.remove(os.path.join(log, f))
    assert _snapshot(path) == want


def test_v2_json_top_level_is_the_parquet_rows(tmp_path):
    """Both V2 formats at one version: the ndjson lines are the parquet
    top-level rows, maps as objects, null action columns left out."""
    path = str(tmp_path / "t")
    _write_log(path, dv=True)
    dl.checkpoint_delta_v2(path, fmt="parquet")
    dl.checkpoint_delta_v2(path, fmt="json")
    log = os.path.join(path, "_delta_log")
    tops = {f.rsplit(".", 1)[1]: os.path.join(log, f)
            for f in os.listdir(log) if ".checkpoint." in f}

    def _masked(rows):
        for r in rows:
            if "sidecar" in r:
                r["sidecar"]["path"] = r["sidecar"]["modificationTime"] = None
        return rows

    parquet_rows = [
        {k: v for k, v in r.items() if v is not None}
        for r in pq.read_table(tops["parquet"]).to_pylist()
    ]
    meta = parquet_rows[2]["metaData"]  # Arrow maps read back as pairs
    meta["configuration"] = dict(meta["configuration"])
    meta["format"]["options"] = dict(meta["format"]["options"])
    with open(tops["json"]) as fh:
        json_rows = [json.loads(ln) for ln in fh]
    assert _masked(json_rows) == _masked(parquet_rows)


def test_last_checkpoint_never_moves_backwards(tmp_path):
    path = str(tmp_path / "t")
    _write_log(path, dv=False)
    lc = os.path.join(path, "_delta_log", "_last_checkpoint")
    dl.checkpoint_delta(path, 3)
    dl.checkpoint_delta(path, 1)
    dl.checkpoint_delta_v2(path, 2)
    assert dl.delta_checkpoints(path) == [1, 2, 3]
    assert json.load(open(lc)) == {"version": 3, "size": 11}
    # the same version again replaces it (here: as a part set)
    dl.checkpoint_delta(path, 3, parts=2)
    assert json.load(open(lc)) == {"version": 3, "size": 11, "parts": 2}


@pytest.mark.parametrize("name, parsed", [
    ("00000000000000000010.checkpoint.parquet", (10, 1, 1)),
    ("00000000000000000010.checkpoint.0000000002.0000000003.parquet", (10, 2, 3)),
    ("00000000000000000010.checkpoint.80a083e8-7026-4e79.parquet", (10, 0, 0)),
    ("00000000000000000010.checkpoint.80a083e8.json", (10, 0, 0)),
    ("00000000000000000010.json", None),
    ("00000000000000000010.checkpoint.parquet.tmp-1a2b3c4d", None),
    ("00000000000000000010.checkpoint.json", None),
    ("00000000000000000010.checkpoint.a.b.parquet", None),
    ("0000000000000000010.checkpoint.parquet", None),
    ("_last_checkpoint", None),
])
def test_checkpoint_name_codec(name, parsed):
    assert dl._parse_checkpoint_name(name) == parsed
    if parsed is not None:
        v, part, parts = parsed
        mid = name.split(".checkpoint.", 1)[1]
        built = (
            dl._checkpoint_name(v, unique=mid.rsplit(".", 1)[0],
                                ext=mid.rsplit(".", 1)[1])
            if part == 0 else
            dl._checkpoint_name(v) if parts == 1 else
            dl._checkpoint_name(v, part, parts)
        )
        assert built == name


def test_incomplete_part_set_is_not_a_checkpoint(tmp_path):
    """A part set missing a part is skipped in favour of an older
    checkpoint; one listing of the log decides."""
    path = str(tmp_path / "t")
    _write_log(path, dv=False)
    dl.checkpoint_delta(path, 1)
    dl.checkpoint_delta(path, 3, parts=3)
    log = os.path.join(path, "_delta_log")
    os.remove(os.path.join(log, dl._checkpoint_name(3, 2, 3)))
    assert dl.delta_checkpoints(path) == [1]
    _versions, cps = dl._log_listing(path)
    assert cps == {1: [os.path.join(log, dl._checkpoint_name(1))]}


# -- one Arrow type per checkpoint action ----------------------------------

PKG = Path(dl.__file__).resolve().parent.parent


def _struct_literals(tree: ast.AST):
    """``(node, field names)`` of every ``*.struct([("name", type), ...])``
    call whose field list is a literal."""
    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "struct"
            and node.args
            and isinstance(node.args[0], ast.List)
        ):
            continue
        names = {
            e.elts[0].value
            for e in node.args[0].elts
            if isinstance(e, ast.Tuple) and isinstance(e.elts[0], ast.Constant)
        }
        if names:
            yield node, names


def test_each_checkpoint_action_type_is_built_once():
    """`delta_log._ACTION_TYPES` is assigned once and holds every action
    a checkpoint file carries; no Arrow struct literal anywhere else in
    the package spells a subset of an action's fields."""
    actions = {
        name: {f.name for f in t} for name, t in dl._ACTION_TYPES.items()
    }
    assert set(actions) == {
        "checkpointMetadata", "protocol", "metaData", "add", "remove",
        "txn", "domainMetadata", "sidecar",
    }
    owners, stray = [], []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        inside: set[int] = set()
        for node in tree.body:
            targets = getattr(node, "targets", [])
            if any(getattr(t, "id", None) == "_ACTION_TYPES" for t in targets):
                owners.append(path.relative_to(PKG).as_posix())
                inside = {id(n) for n in ast.walk(node)}
        for node, names in _struct_literals(tree):
            if id(node) in inside:
                continue
            hits = [a for a, fields in actions.items() if names <= fields]
            if hits:
                rel = path.relative_to(PKG).as_posix()
                stray.append(f"{rel}:{node.lineno} {sorted(names)} {hits}")
    assert owners == ["sources/delta_log.py"], owners
    assert not stray, stray
