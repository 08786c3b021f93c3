"""``bench.py`` stamps only the small-SF substitutions it actually made."""

import bench


def _stub_queries(monkeypatch, ran):
    def query(name):
        return lambda spark, run_dir: ran.append((name, run_dir))

    queries = {name: query(name) for name in bench.BENCH_QUERIES}
    monkeypatch.setattr(bench.entry_mod, "queries", lambda: queries)
    monkeypatch.setattr(bench, "materialize", lambda df: 0)


def test_missing_sibling_sf_is_not_stamped(tmp_path, monkeypatch):
    sf_dir = tmp_path / "sf0.1"
    sf_dir.mkdir()
    ran = []
    _stub_queries(monkeypatch, ran)
    timings, small_sf = bench.run_queries(None, str(sf_dir))
    assert small_sf == {}
    assert set(timings) == set(bench.BENCH_QUERIES)
    assert {d for _, d in ran} == {str(sf_dir)}


def test_present_sibling_sf_is_stamped(tmp_path, monkeypatch):
    sf_dir = tmp_path / "sf0.1"
    sf_dir.mkdir()
    for sibling in bench.SMALL_SF_QUERIES.values():
        (tmp_path / sibling).mkdir()
    ran = []
    _stub_queries(monkeypatch, ran)
    _, small_sf = bench.run_queries(None, str(sf_dir))
    assert small_sf == bench.SMALL_SF_QUERIES
    assert {d for name, d in ran if name in small_sf} == {
        str(tmp_path / s) for s in small_sf.values()
    }
