"""Driver-contract invariants: the registry must stay well-formed because
the external harness consumes it blindly (and records correctness for only
the first 50 entries — _DRIVER_WINDOW curates that window)."""

from __future__ import annotations

import __spark_entry__ as entry


def test_driver_window_wellformed():
    q = entry.queries()
    o = entry.oracle_sql()
    names = list(q)
    window = names[: len(entry._DRIVER_WINDOW)]
    # The tuple may exceed the 50 driver slots when lanes land after the
    # window freezes (the overflow is documented inline and leads the next
    # round's rotation); the driver still records only the first 50.
    assert len(entry._DRIVER_WINDOW) >= 50
    assert window == list(entry._DRIVER_WINDOW)
    assert len(set(entry._DRIVER_WINDOW)) == len(entry._DRIVER_WINDOW)
    assert set(o) <= set(q), "oracle without a query"
    # window composition: mostly hard-checkable queries
    n_oracle = sum(1 for n in window if n in o)
    assert n_oracle >= 40, f"window carries only {n_oracle} oracle-checked queries"


def test_every_lane_output_schema_is_driver_atomic(spark):
    """Driver-safety guard (VERDICT r6 ask #2): the external driver
    canonicalizes each recorded lane's collected result through pandas
    ``sort_values``, which cannot hash Python lists/dicts — a lane surfacing
    a raw ArrayType/MapType/StructType/UDT column crashes the driver BEFORE
    it records even a row count (the `ml_fpgrowth_itemsets` red in
    CORRECTNESS_r06; the local comparator handles nested values, so only
    this sweep catches the class pre-freeze). Convention: surface arrays as
    `array_join(sort_array(...), ",")` — cf. `agg_collect_sorted`."""
    from tools.lanerun import nonatomic_fields

    bad = {}
    for name, fn in entry.queries().items():
        fields = nonatomic_fields(fn(spark, "/root/testdata/sf0.001").schema)
        if fields:
            bad[name] = fields
    assert not bad, f"non-atomic driver-boundary columns: {bad}"


def test_nonatomic_detector_catches_the_r6_failure_shape(spark):
    """Self-test of the guard's predicate: the exact column shapes that
    crashed (array) or would crash (map/struct/vector) the driver's
    canonicalizer must be flagged; their string presentations must pass."""
    import pyspark.sql.functions as F
    from pyspark.ml.linalg import Vectors

    from tools.lanerun import nonatomic_fields

    df = spark.createDataFrame([([1, 2], {"a": 1}, (1, "x"))], ["arr", "mp", "st"])
    assert len(nonatomic_fields(df.schema)) == 3
    vec = spark.createDataFrame([(Vectors.dense([1.0]),)], ["v"])
    assert nonatomic_fields(vec.schema) == ["v:vector"]
    ok = df.select(
        F.array_join(F.transform("arr", lambda x: x.cast("string")), ",").alias("arr"),
        F.to_json("mp").alias("mp"),
        F.to_json("st").alias("st"),
    )
    assert nonatomic_fields(ok.schema) == []


def test_all_queries_are_callables_with_contract_arity():
    import inspect

    q = entry.queries()
    assert len(q) >= 100
    for name, fn in q.items():
        params = [
            p
            for p in inspect.signature(fn).parameters.values()
            if p.default is inspect.Parameter.empty
        ]
        assert len(params) == 2, f"{name} must take (spark, sf_dir)"


def test_observe_does_not_poison_mllib_evaluator_closures():
    """Order-dependence regression (quality.py::obs_ingest_metrics): an
    Observation registered on the shared session initializes its lazy,
    non-serializable ObservationManager; a classification model fitted
    AFTERWARDS carries session → manager into the evaluator's RDD task
    closure and dies with "Task not serializable". obs_ingest_metrics must
    therefore observe on an isolated newSession() — this test runs the
    poisonous order (observe, then fit + evaluate) in ONE session and must
    stay green."""
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.linalg import Vectors

    from big_data_analytics_machine_learning_poc_spark.session import get_session

    spark = get_session("obs-regression")
    entry.queries()["obs_ingest_metrics"](spark, "/root/testdata/sf0.001").collect()
    df = spark.createDataFrame(
        [(float(i % 2), Vectors.dense([float(i % 2), float(i % 3)])) for i in range(40)],
        ["label", "features"],
    )
    model = RandomForestClassifier(numTrees=3, seed=1).fit(df)
    acc = MulticlassClassificationEvaluator(metricName="accuracy").evaluate(
        model.transform(df)
    )
    assert 0.0 <= acc <= 1.0


def test_rotation_tool_window_policy():
    """tools/rotation.py (VERDICT r4 ask #6) must (a) rank every
    never-driver-checked lane ahead of re-confirms, (b) keep the window
    within the 50-slot driver budget, and (c) agree with _DRIVER_WINDOW on
    never-checked coverage (the --check contract)."""
    import __spark_entry__ as entrymod
    from tools import rotation

    plan = rotation.plan_window(50)
    assert len(plan["window"]) <= 50
    assert plan["total_registered"] == len(entrymod._registry().queries)
    # every never-checked lane is in the window, before any green re-confirm
    n_never = len(plan["never"])
    assert plan["window"][:n_never] == plan["never"] or n_never > 50
    for name in plan["never"]:
        assert name in entrymod._DRIVER_WINDOW, (
            f"never-driver-checked lane {name!r} missing from _DRIVER_WINDOW "
            f"(regenerate with: python tools/rotation.py)"
        )


def test_rotation_ledger_flags_changed_lanes(tmp_path, monkeypatch):
    """A lane whose source or oracle hash differs from the ledger snapshot
    must be classified 'changed' (rotated in for re-confirm)."""
    import json

    from tools import rotation

    hist = {"q1": {"round": 1, "green": True}, "q2": {"round": 2, "green": True}}

    class FakeReg:
        def __init__(self):
            self.queries = {"q1": lambda s, d: None, "q2": lambda s, d: None}
            self.oracles = {"q1": "SELECT 1", "q2": "SELECT 2"}

    reg = FakeReg()
    ledger_path = tmp_path / "ledger.json"
    monkeypatch.setattr(rotation, "_registry", lambda: reg)
    monkeypatch.setattr(rotation, "driver_history", lambda: hist)
    monkeypatch.setattr(rotation, "LEDGER_PATH", str(ledger_path))
    # r6 semantics: update_ledger pins ONLY lanes whose latest green row is
    # from the most recent round (q2 @ r2). q1's r1-green row does NOT get a
    # fresh pin — its code may have changed since r1 without the driver
    # re-seeing it, and re-pinning would silently clear that flag.
    n = rotation.update_ledger()
    assert n == 1
    ledger = json.loads(ledger_path.read_text())
    assert set(ledger) == {"q2"}
    assert ledger["q2"].get("v") == rotation.LEDGER_VERSION
    # q1 absent from the ledger -> conservatively 'changed' (re-confirm once)
    plan = rotation.plan_window(50)
    assert plan["changed"] == ["q1"]
    # pin q1 by hand at its current hash (as if its r1 green just happened),
    # then mutate q2's oracle -> only q2 flags changed
    ledger["q1"] = {
        "hash": rotation.lane_hash(reg.queries["q1"], reg.oracles["q1"]),
        "round": 1,
        "v": rotation.LEDGER_VERSION,
    }
    ledger_path.write_text(json.dumps(ledger))
    reg.oracles["q2"] = "SELECT 999"
    plan = rotation.plan_window(50)
    assert plan["changed"] == ["q2"]
    assert plan["never"] == [] and plan["red"] == []
    assert plan["window"][0] == "q2"  # changed outranks stale greens
    # regression (the r6 bug): a later update_ledger run must NOT re-pin the
    # edited-but-not-re-driven q2... unless q2's green IS the latest round,
    # which it is here — so simulate q1 getting a newer r3 green instead:
    # q2's r2 row is now stale and its changed flag must survive the re-pin.
    hist["q1"] = {"round": 3, "green": True}
    rotation.update_ledger()
    plan = rotation.plan_window(50)
    assert plan["changed"] == ["q2"], "stale-green lane lost its changed flag on re-pin"


def test_rotation_warns_when_window_overflows(monkeypatch, capsys):
    """51 never-checked lanes against 50 slots must WARN (lanes silently
    losing driver coverage) and still emit a full 50-lane window."""
    from tools import rotation

    class FakeReg:
        def __init__(self):
            self.queries = {f"q{i:03d}": (lambda s, d: None) for i in range(51)}
            self.oracles = {}

    monkeypatch.setattr(rotation, "_registry", lambda: FakeReg())
    monkeypatch.setattr(rotation, "driver_history", lambda: {})
    plan = rotation.plan_window(50)
    assert len(plan["window"]) == 50 and len(plan["never"]) == 51
    assert "NO driver row" in capsys.readouterr().err


def test_rotation_v1_pins_compare_under_v1(tmp_path, monkeypatch):
    """A ledger entry without a version marker (v1 era) must be compared
    under the v1 formula: bumping LEDGER_VERSION alone must not flag the
    lane as changed."""
    import json

    from tools import rotation

    hist = {"q1": {"round": 1, "green": True}}

    class FakeReg:
        def __init__(self):
            self.queries = {"q1": lambda s, d: None}
            self.oracles = {"q1": "SELECT 1"}

    reg = FakeReg()
    ledger_path = tmp_path / "ledger.json"
    monkeypatch.setattr(rotation, "_registry", lambda: reg)
    monkeypatch.setattr(rotation, "driver_history", lambda: hist)
    monkeypatch.setattr(rotation, "LEDGER_PATH", str(ledger_path))
    # v1-era pin: hash computed under version 1, no "v" key
    ledger_path.write_text(
        json.dumps(
            {"q1": {"hash": rotation.lane_hash(reg.queries["q1"], "SELECT 1", 1), "round": 1}}
        )
    )
    plan = rotation.plan_window(50)
    assert plan["changed"] == [], "v1 pin spuriously flagged under v2 formula"
    # ...but a real oracle edit still flags it
    reg.oracles["q1"] = "SELECT 2"
    plan = rotation.plan_window(50)
    assert plan["changed"] == ["q1"]


def test_rotation_v2_sees_body_imports_and_local_helpers():
    """The two v1 blind spots, pinned closed: (a) a lane whose BODY does a
    relative import must fold that file into its v2 hash; (b) a lane
    calling a same-module helper must fold the helper's source in
    (transitively)."""
    import __spark_entry__ as entrymod
    from tools import rotation

    reg = entrymod._registry()
    # (a) parts_pareto_share imports functions/prefix.py inside its body;
    # delta_dml_audit imports sources/delta_lite.py via a multiline
    # parenthesized import
    pareto_files = rotation._body_import_files(reg.queries["parts_pareto_share"])
    assert any(f.endswith("functions/prefix.py") for f in pareto_files), pareto_files
    dml_files = rotation._body_import_files(reg.queries["delta_dml_audit"])
    assert any(f.endswith("sources/delta_lite.py") for f in dml_files), dml_files
    # (b) ann_pq_adc calls pq_encode/train_pq_codebooks in its own module:
    # its local-refs digest must include their sources — assert by checking
    # the digest is real (not the no-refs sentinel) and includes the
    # transitive helper _kmeans_lloyd via train_pq_codebooks
    import sys
    import types

    fn = reg.queries["ann_pq_adc"]
    assert rotation._local_refs_digest(fn, 2) not in ("norefs", "nomod")
    mod = sys.modules[fn.__module__]
    assert isinstance(getattr(mod, "_kmeans_lloyd"), types.FunctionType)
    # digest changes when a referenced helper's source would change: pin by
    # recomputing against a monkeypatched getsource is overkill — instead
    # pin that v2 != v1 for this lane (the extra terms are load-bearing)
    oracle = reg.oracles.get("ann_pq_adc")
    assert rotation.lane_hash(fn, oracle, 1) != rotation.lane_hash(fn, oracle, 2)


def test_rotation_v3_ignores_comment_and_docstring_edits():
    """v3 pins survive pure-documentation edits (the r6 ADVICE doc-only
    fixes re-flagged ~24 behavior-unchanged lanes under v2 — that churn is
    what v3 removes) while still flagging any executable-token change."""
    from tools import rotation

    base = (
        "def lane(spark, sf):\n"
        '    """original docstring"""\n'
        "    # original comment\n"
        "    x = 1\n"
        "    return x\n"
    )
    doc_edit = (
        "def lane(spark, sf):\n"
        '    """REWRITTEN docstring, twice as long and totally different"""\n'
        "    # a brand-new comment\n"
        "    x = 1  # trailing note\n"
        "    return x\n"
    )
    code_edit = base.replace("x = 1", "x = 2")
    n = rotation._norm_src
    assert n(base, 3) == n(doc_edit, 3), "doc-only edit changed the v3 form"
    assert n(base, 3) != n(code_edit, 3), "code edit must change the v3 form"
    # v2 stays doc-sensitive (existing pins keep their recorded semantics)
    assert n(base, 2) != n(doc_edit, 2)
    # same insensitivity for whole-file (closure/body-import) bytes
    nb = rotation._norm_file_bytes
    assert nb(base.encode(), 3) == nb(doc_edit.encode(), 3)
    assert nb(base.encode(), 3) != nb(code_edit.encode(), 3)
    # unparseable text falls back to whitespace normalization, never raises
    assert rotation._stripped_source("def broken(:") is None
    assert n("def broken(:", 3) == "def broken(:"
    # v3 constant reprs are PYTHONHASHSEED-independent: frozensets (bare or
    # tuple-nested) render sorted, so a pin written by a seed-pinned driver
    # process matches one computed by an unpinned local tool run
    fs = frozenset({"zeta", "alpha", "mid"})
    assert rotation._const_repr(fs, 3) == "frozenset(['alpha', 'mid', 'zeta'])"
    assert rotation._const_repr((1, fs), 3) == "(1, frozenset(['alpha', 'mid', 'zeta']),)"
    assert rotation._const_repr(fs, 2) == repr(fs)  # v2 pins keep raw repr
    # nested containers render seed-independently too (ADVICE r6): elements
    # go through _const_repr BEFORE the sort, so frozenset-of-frozenset and
    # tuple-below-frozenset have exactly one rendering
    nested = frozenset({frozenset({"b", "a"}), frozenset({"c"})})
    assert rotation._const_repr(nested, 3) == (
        "frozenset([frozenset(['a', 'b']), frozenset(['c'])])"
    )
    tup_in_fs = frozenset({(1, frozenset({"y", "x"}))})
    assert rotation._const_repr(tup_in_fs, 3) == (
        "frozenset([(1, frozenset(['x', 'y']),)])"
    )


def test_rotation_python_version_mismatch_forces_reconfirm(tmp_path, monkeypatch):
    """A pin recorded under a different Python minor version must flag the
    lane as changed (ast.unparse's v3 rendering is only stable within one
    minor version — ADVICE r6); a pin without the field compares as before."""
    import json
    import sys

    from tools import rotation

    hist = {"q1": {"round": 1, "green": True}}

    class FakeReg:
        def __init__(self):
            self.queries = {"q1": lambda s, d: None}
            self.oracles = {"q1": "SELECT 1"}

    reg = FakeReg()
    ledger_path = tmp_path / "ledger.json"
    monkeypatch.setattr(rotation, "_registry", lambda: reg)
    monkeypatch.setattr(rotation, "driver_history", lambda: hist)
    monkeypatch.setattr(rotation, "LEDGER_PATH", str(ledger_path))
    pin = {
        "hash": rotation.lane_hash(reg.queries["q1"], "SELECT 1"),
        "round": 1,
        "v": rotation.LEDGER_VERSION,
    }
    # no "py" field (pre-field pin): hash match suffices
    ledger_path.write_text(json.dumps({"q1": dict(pin)}))
    assert rotation.plan_window(50)["changed"] == []
    # same minor: still green
    pin["py"] = ".".join(map(str, sys.version_info[:2]))
    ledger_path.write_text(json.dumps({"q1": dict(pin)}))
    assert rotation.plan_window(50)["changed"] == []
    # different minor: conservative re-confirm even though the hash matches
    pin["py"] = "3.255"
    ledger_path.write_text(json.dumps({"q1": dict(pin)}))
    assert rotation.plan_window(50)["changed"] == ["q1"]
    # update_ledger stamps the current interpreter on new pins
    rotation.update_ledger()
    assert json.loads(ledger_path.read_text())["q1"]["py"] == ".".join(
        map(str, sys.version_info[:2])
    )


def test_rotation_v3_stripper_parses_every_package_file():
    """If a package file stops AST-parsing, _norm_file_bytes silently falls
    back to whitespace normalization — quietly reintroducing the
    doc-edit sensitivity v3 exists to remove. Keep the property loud."""
    import glob
    import os

    from tools import rotation

    pkg = os.path.join(rotation.REPO, "big_data_analytics_machine_learning_poc_spark")
    files = glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)
    assert len(files) > 30  # sanity: the glob found the real package
    unparseable = [
        f
        for f in files
        if rotation._stripped_source(open(f, encoding="utf-8").read()) is None
    ]
    assert unparseable == [], f"v3 stripper fell back on: {unparseable}"
