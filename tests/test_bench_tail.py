"""bench.py emission layering vs the driver's 2,000-byte stdout tail.

r9 VERDICT task 7: r8 lost five ext_* numbers to an unbounded line and
r9's registry line lost its head the same way — this guard renders the
REAL entry-name universe (registry + extension + headline workloads)
through render_output_lines at the driver's cap and pins what must
survive, so the next emission-format change cannot silently lose
entries again.  No SparkSession: the workload dicts are built lazily
(name → closure) and only the names are needed.
"""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TAIL_CAP = 2000  # driver-quirk constant: BENCH_r1-r9 all show tail_len=2000


@pytest.fixture(scope="module")
def bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def universe(bench):
    """Every tracked entry name, from the real workload builders (no
    Spark: the dicts map name → lazy closure)."""
    from polars_w_inverted_index_spark import registry

    headline = list(bench._reference_workload())
    reg = list(registry.QUERIES)
    ext = list(bench._extension_workload())
    # the logs workload needs a session to BUILD (it writes 10 M rows);
    # its key set is stable — pin representative names so the headline
    # line is sized realistically
    logs = [
        "logs10m_field_values_by_ids_level",
        "logs10m_field_values_by_ids_region",
        "logs10m_field_values_full_host",
        "logs10m_field_values_full_host_indexed",
        "logs10m_field_values_full_host_catalyst",
        "logs10m_field_values_by_ids_host_indexed",
        "logs10m_numeric_stats_by_ids_payload",
        "logs10m_numeric_stats_by_ids_login",
        "logs10m_numeric_stats_full_clicks",
    ]
    return headline, reg, ext, logs


def _render(bench, universe, tmp_path):
    headline, reg, ext, logs = universe
    timings = {
        n: 0.1234 + (i % 7) / 10.0
        for i, n in enumerate(headline + reg + ext + logs)
    }
    baseline_keys = set(headline) | set(logs)
    out = {
        "metric": "reference_workload_total",
        "value": 1.6774,
        "unit": "sec",
        "sf": 0.1,
        "calibration_s": 0.2439,
        "calib_start": 0.7261,
        "calib_end": 0.2439,
        "calib_phase": {"headline": 0.731, "registry": 0.412, "ext": 0.333},
        "logs10m_total": 1.9231,
        "logs10m_rows": 10_000_000,
        "logs10m_total_norm": 2.192,
        "logs10m_exec_peak_mb": 1025.0,
    }
    # write the sidecar into a scratch dir, not the repo root
    bench.DETAIL_FILE = str(tmp_path / "BENCH_DETAIL.json")
    lines = bench.render_output_lines(out, timings, baseline_keys, {})
    return lines, timings, baseline_keys


def test_tail_layering_budgets_and_survival(bench, universe, tmp_path):
    lines, timings, baseline_keys = _render(bench, universe, tmp_path)
    headline_line = lines[-1]
    # the parsed record (last line) always fits the tail whole, with the
    # graded per-query numbers intact (the judge's perf table source)
    assert len(headline_line) <= bench.HEADLINE_BUDGET
    parsed = json.loads(headline_line)
    assert set(parsed["queries"]) == {
        k for k in baseline_keys if k in timings
    }
    assert parsed["calib_phase"]["registry"] == 0.412
    assert parsed["detail_file"] == "BENCH_DETAIL.json"

    # every chunk line is bounded: a head cut costs at most ONE chunk
    for ln in lines[1:-1]:
        obj = json.loads(ln)
        assert set(obj) <= {"reg", "ext"}, ln[:80]
        assert len(ln) <= bench.CHUNK_BUDGET + 80, len(ln)

    # at the driver's cap, the headline survives whole and the last
    # ext chunk(s) survive with it
    tail = "\n".join(lines)[-TAIL_CAP:]
    assert headline_line in tail
    surviving = [
        ln for ln in tail.splitlines() if ln.startswith('{"ext"')
    ]
    assert surviving, "no ext chunk survived the tail cap"


def test_every_tracked_entry_survives_somewhere(bench, universe, tmp_path):
    """The completeness contract: a tracked name that is neither in the
    tail NOR in the sidecar is a lost number (the r8 failure mode)."""
    lines, timings, _ = _render(bench, universe, tmp_path)
    with open(bench.DETAIL_FILE) as f:
        detail = json.load(f)
    assert set(detail["queries"]) == set(timings)
    # and the chunk streams jointly carry every non-graded name too
    # (loss at the cap is bounded, but the emission itself must be
    # complete — a name missing HERE is a format bug, not truncation)
    chunk_names: set[str] = set()
    for ln in lines[1:-1]:
        obj = json.loads(ln)
        for label, entries in obj.items():
            for k in entries:
                chunk_names.add(f"ext_{k}" if label == "ext" else k)
    headline, reg, ext, logs = universe
    assert set(reg) <= chunk_names
    assert set(ext) <= chunk_names


def test_stamp_phase_rejects_noncontiguous_group(bench):
    """r10 ADVICE: the phase-stamp loop assumes contiguous group visits;
    a repeated group must raise (loud misattribution failure), never
    silently overwrite an earlier phase's probe."""
    stamps: dict = {}
    bench._stamp_phase(stamps, "headline", 0.31)
    bench._stamp_phase(stamps, "registry", 0.33)
    assert stamps == {"headline": 0.31, "registry": 0.33}
    with pytest.raises(RuntimeError, match="non-contiguously"):
        bench._stamp_phase(stamps, "headline", 0.99)
    assert stamps["headline"] == 0.31  # untouched by the failed stamp


def test_round_detail_sidecar_naming(bench, universe, tmp_path):
    """r11 VERDICT (Missing #2): the per-entry record must survive
    round-over-round.  The round number is max(existing BENCH_r*)+1 —
    the driver writes BENCH_r{N}.json only AFTER the round's bench —
    and the per-round sidecar carries the SAME complete record as the
    stable name (which stays for compatibility)."""
    (tmp_path / "BENCH_r11.json").write_text("{}")
    (tmp_path / "BENCH_r09.json").write_text("{}")
    lines, timings, _ = _render(bench, universe, tmp_path)
    round_file = tmp_path / "BENCH_DETAIL_r12.json"
    assert round_file.exists(), sorted(p.name for p in tmp_path.iterdir())
    with open(bench.DETAIL_FILE) as f:
        stable = json.load(f)
    per_round = json.loads(round_file.read_text())
    assert per_round == stable
    assert set(per_round["queries"]) == set(timings)


def test_printed_lines_are_current_run_floor_confined_to_sidecar(
    bench, universe, tmp_path
):
    """r14 VERDICT task 2: the printed one-line JSON must report the
    CURRENT run (so an in-round regression is visible to the driver);
    the cross-run floor merge lives in the sidecar only, with the
    current run preserved beside it as ``run_queries``."""
    headline, reg, ext, logs = universe
    all_names = headline + reg + ext + logs
    timings = {n: 2.0 for n in all_names}          # slow current run
    floors = {n: 1.0 for n in all_names}           # prior-run floor
    baseline_keys = set(headline) | set(logs)
    out = {
        "metric": "reference_workload_total",
        "value": round(sum(timings[n] for n in headline), 4),
        "unit": "sec",
        "sf": 0.1,
    }
    bench.DETAIL_FILE = str(tmp_path / "BENCH_DETAIL.json")
    lines = bench.render_output_lines(
        out, timings, baseline_keys, {},
        floor_timings=floors,
        sidecar_extra={"floor_merged": True, "calib_runs": [0.3, 0.31]},
    )
    parsed = json.loads(lines[-1])
    # printed per-query numbers are the slow CURRENT run, not the floor
    assert all(v == 2.0 for v in parsed["queries"].values())
    assert "floor_merged" not in parsed and "calib_runs" not in parsed
    # every printed chunk is current-run too
    for ln in lines[1:-1]:
        obj = json.loads(ln)
        for entries in obj.values():
            assert all(v == 2.0 for v in entries.values())
    # the sidecar keeps the floor (merge composes across runs) AND the
    # current run, with provenance
    with open(bench.DETAIL_FILE) as f:
        sidecar = json.load(f)
    assert all(v == 1.0 for v in sidecar["queries"].values())
    assert all(v == 2.0 for v in sidecar["run_queries"].values())
    assert sidecar["floor_merged"] is True


def test_floor_merge_skips_a_sidecar_from_another_core_count(
    bench, universe, tmp_path
):
    """A same-round sidecar stamped with another ``cpus`` (or with
    none: written before the stamp existed) is another machine's floor
    — an 8-core scaling run once seeded a round's floors — so the
    merge skips it; a same-``cpus`` sidecar still merges.  The stamp is
    sidecar-only: the printed lines do not carry it."""
    bench.DETAIL_FILE = str(tmp_path / "BENCH_DETAIL.json")
    (tmp_path / "BENCH_r15.json").write_text("{}")
    prior = tmp_path / "BENCH_DETAIL_r16.json"
    now = {"a": 2.0, "b": 1.0}
    for stamp in ({"cpus": 8}, {}):
        prior.write_text(json.dumps({
            "queries": {"a": 1.0, "b": 1.0}, "calibration_s": 0.38, **stamp,
        }))
        assert bench._floor_merge_round_sidecar(now, 32) == (now, None)
    prior.write_text(json.dumps({
        "queries": {"a": 1.0, "b": 3.0}, "calibration_s": 0.3, "cpus": 32,
    }))
    assert bench._floor_merge_round_sidecar(now, 32) == (
        {"a": 1.0, "b": 1.0}, [0.3]
    )

    lines = bench.render_output_lines(
        {"metric": "reference_workload_total", "value": 3.0},
        now, {"a"}, {}, sidecar_extra={"cpus": 32},
    )
    assert json.loads(prior.read_text())["cpus"] == 32
    assert all('"cpus"' not in ln for ln in lines)


def test_sidecar_totals_are_sums_of_its_own_floor_queries(
    bench, universe, tmp_path
):
    """The sidecar's summary figures come from the same view as its
    ``queries``: with a floor merge they are floor sums (the sidecar
    ``value`` equals the sum of its own headline ``queries``), while
    the printed record keeps current-run totals."""
    headline, reg, ext, logs = universe
    names = headline + reg + ext + logs
    timings = {n: 2.0 + i / 100.0 for i, n in enumerate(names)}
    floors = {n: v / 2.0 for n, v in timings.items()}
    baseline_keys = set(headline) | set(logs)

    def totals(view):
        return bench.view_totals(view, headline, logs, set(reg), {}, 0.25)

    cur = totals(timings)
    out = {"metric": "reference_workload_total", **cur, "unit": "sec"}
    bench.DETAIL_FILE = str(tmp_path / "BENCH_DETAIL.json")
    lines = bench.render_output_lines(
        out, timings, baseline_keys, {},
        floor_timings=floors,
        sidecar_extra={"floor_merged": True, **totals(floors)},
    )
    printed = json.loads(lines[-1])
    assert printed["value"] == pytest.approx(
        sum(timings[n] for n in headline), abs=1e-3
    )
    assert printed["logs10m_total"] == cur["logs10m_total"]

    sidecar = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    q = sidecar["queries"]
    assert sidecar["value"] == pytest.approx(
        sum(q[n] for n in headline), abs=1e-3
    )
    assert sidecar["value"] < printed["value"]
    assert sidecar["logs10m_total"] == pytest.approx(
        sum(q[n] for n in logs), abs=1e-3
    )
    assert sidecar["logs10m_total_norm"] == pytest.approx(
        sidecar["logs10m_total"] * bench.CALIB_REF / 0.25, abs=1e-3
    )
    assert sidecar["row_budget"]["registry_median_s"] == round(
        sorted(q[n] for n in reg)[len(reg) // 2], 3
    )
    assert sidecar["run_queries"] == {
        k: round(v, 4) for k, v in sorted(timings.items())
    }
