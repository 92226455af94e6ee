"""operators/fixture_cache: content-fingerprint keying (a fixture dir
whose contents change in-process must miss, not serve a stale build or
model), cleanup registration, and the one-tier rule for module-level
caches. Pure-filesystem tests."""

import ast
import os
import time
from pathlib import Path

import pytest

from youtube_etl_project_spark.operators import fixture_cache

PKG = Path(__file__).resolve().parents[1] / "youtube_etl_project_spark"


def _write(d, name, body):
    p = os.path.join(d, name)
    with open(p, "w") as f:
        f.write(body)
    return p


def test_hit_miss_and_fingerprint_invalidation(tmp_path):
    src = tmp_path / "fixture"
    src.mkdir()
    _write(str(src), "a.parquet", "one")

    builds = []

    def build(path):
        builds.append(path)
        _write(path, "_SUCCESS", "")

    p1 = fixture_cache.cached_build("t_", str(src), build)
    p2 = fixture_cache.cached_build("t_", str(src), build)
    assert p1 == p2 and len(builds) == 1  # warm hit, no rebuild

    # deleting the marker forces a rebuild even at the same fingerprint
    os.remove(os.path.join(p1, "_SUCCESS"))
    p3 = fixture_cache.cached_build("t_", str(src), build)
    assert len(builds) == 2

    # changing the fixture's CONTENT (mtime_ns differs) invalidates
    time.sleep(0.01)
    _write(str(src), "a.parquet", "two!")
    p4 = fixture_cache.cached_build("t_", str(src), build)
    assert len(builds) == 3
    assert p4 != p3

    # every minted dir is registered for atexit reclaim
    assert {p1, p3, p4} <= set(fixture_cache._MINTED)

    # distinct prefixes never collide on the same fixture
    p5 = fixture_cache.cached_build("u_", str(src), build)
    assert p5 != p4 and len(builds) == 4


def test_fingerprint_is_content_sensitive(tmp_path):
    d = tmp_path / "f"
    d.mkdir()
    _write(str(d), "x", "abc")
    f1 = fixture_cache.fingerprint(str(d))
    assert f1 == fixture_cache.fingerprint(str(d))  # stable
    time.sleep(0.01)
    _write(str(d), "x", "abcd")
    f2 = fixture_cache.fingerprint(str(d))
    assert f2 != f1
    # a touch alone (same size, new mtime) also changes it
    st = os.stat(d / "x")
    os.utime(d / "x", ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert fixture_cache.fingerprint(str(d)) != f2


def test_cached_model_hit_retrain_and_prefixes(tmp_path):
    src = tmp_path / "fixture"
    src.mkdir()
    data = _write(str(src), "a.parquet", "one")
    trains = []

    def train(tag):
        def _train():
            trains.append(tag)
            return {"tag": tag}
        return _train

    v1 = fixture_cache.cached_model("m_", str(src), train("m"))
    assert fixture_cache.cached_model("m_", str(src), train("m")) is v1
    assert trains == ["m"]  # warm hit, no retrain

    # distinct prefixes never collide on the same dir
    w1 = fixture_cache.cached_model("w_", str(src), train("w"))
    assert w1["tag"] == "w" and trains == ["m", "w"]
    assert fixture_cache.cached_model("m_", str(src), train("m")) is v1

    # a content change (touch) retrains and REPLACES the entry
    st = os.stat(data)
    os.utime(data, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    v2 = fixture_cache.cached_model("m_", str(src), train("m"))
    assert v2 is not v1 and trains == ["m", "w", "m"]
    assert fixture_cache.cached_model("m_", str(src), train("m")) is v2
    entries = [k for k in fixture_cache._MODELS if k[1] == str(src)]
    assert sorted(entries) == [("m_", str(src)), ("w_", str(src))]
    assert fixture_cache._MODELS[("m_", str(src))] == (
        fixture_cache.fingerprint(str(src)), v2
    )


def test_cached_model_raising_train_stores_nothing(tmp_path):
    src = tmp_path / "fixture"
    src.mkdir()
    _write(str(src), "a.parquet", "one")

    def boom():
        raise RuntimeError("train failed")

    with pytest.raises(RuntimeError):
        fixture_cache.cached_model("r_", str(src), boom)
    assert ("r_", str(src)) not in fixture_cache._MODELS
    assert fixture_cache.cached_model("r_", str(src), lambda: 7) == 7


def test_no_module_level_cache_dict_outside_fixture_cache():
    """Every per-fixture cache goes through operators/fixture_cache: no
    other module of the package may bind a module-level ``*_CACHE``
    name (scanned from source, not imported)."""
    offenders = []
    for py in sorted(PKG.rglob("*.py")):
        if py == PKG / "operators" / "fixture_cache.py":
            continue
        for node in ast.parse(py.read_text(), str(py)).body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            offenders += [
                f"{py.relative_to(PKG)}:{node.lineno} {t.id}"
                for t in targets
                if isinstance(t, ast.Name) and t.id.endswith("_CACHE")
            ]
    assert not offenders, offenders


def test_stats_count_a_miss_then_a_hit_per_tier(tmp_path):
    src = tmp_path / "fixture"
    src.mkdir()
    _write(str(src), "a.parquet", "one")
    before = fixture_cache.stats()

    def build(path):
        _write(path, "_SUCCESS", "")

    for _ in range(2):
        fixture_cache.cached_build("s_", str(src), build)
        fixture_cache.cached_model("s_", str(src), lambda: 1)
    after = fixture_cache.stats()
    for tier in ("frames", "models"):
        assert after[tier]["misses"] - before[tier]["misses"] == 1, tier
        assert after[tier]["hits"] - before[tier]["hits"] == 1, tier
        assert after[tier]["seconds"] >= before[tier]["seconds"], tier
    # a copy: callers cannot reset the counters through it
    after["frames"]["hits"] = -1
    assert fixture_cache.stats()["frames"]["hits"] >= 1


def test_fingerprint_of_a_single_file(tmp_path):
    f = _write(str(tmp_path), "t.parquet", "abc")
    f1 = fixture_cache.fingerprint(f)
    assert f1 == fixture_cache.fingerprint(f)
    st = os.stat(f)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert fixture_cache.fingerprint(f) != f1


def test_cache_tier_frames_are_read_through_read_frame():
    """Frames written by ``cached_build`` (and the persisted ANN indexes)
    are read with ``fixture_cache.read_frame``, which reuses the schema
    recorded at the dir's fingerprint. A plain ``.read.parquet`` of such
    a dir launches a schema-inference job on every warm call. Scanned
    from source: ``operators/ann_index.py`` makes no ``.read.parquet(``
    call, and no package module reads ``f"{path}/..."`` or a
    ``*_path(...)`` cache dir with it."""
    owner = PKG / "operators" / "fixture_cache.py"
    ann = PKG / "operators" / "ann_index.py"

    def read_parquet_arg(node):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "read"
        ):
            return None
        return node.args[0] if node.args else ast.Constant(None)

    def cache_dir(arg) -> bool:
        if isinstance(arg, ast.JoinedStr) and len(arg.values) > 1:
            head, rest = arg.values[0], arg.values[1]
            return (
                isinstance(head, ast.FormattedValue)
                and isinstance(rest, ast.Constant)
                and str(rest.value).startswith("/")
            )
        return (
            isinstance(arg, ast.Call)
            and isinstance(arg.func, ast.Name)
            and arg.func.id.endswith("_path")
        )

    offenders = []
    for py in sorted(PKG.rglob("*.py")):
        if py == owner:
            continue
        for node in ast.walk(ast.parse(py.read_text(), str(py))):
            arg = read_parquet_arg(node)
            if arg is not None and (py == ann or cache_dir(arg)):
                offenders.append(f"{py.relative_to(PKG)}:{node.lineno}")
    assert not offenders, (
        f"cache-tier frames read without fixture_cache.read_frame: {offenders}"
    )


def test_source_without_a_local_fingerprint_is_never_reused(tmp_path):
    """A URI (or a missing path) cannot be fingerprinted here, so a value
    built from it could go stale unseen: both tiers rebuild it per call."""
    src = (tmp_path / "fixture").as_uri()
    assert fixture_cache.fingerprint(src) is None
    trains = []
    for _ in range(2):
        fixture_cache.cached_model("n_", src, lambda: trains.append(1))
    assert len(trains) == 2 and ("n_", src) not in fixture_cache._MODELS

    def build(path):
        _write(path, "_SUCCESS", "")

    p1 = fixture_cache.cached_build("n_", src, build)
    assert fixture_cache.cached_build("n_", src, build) != p1
