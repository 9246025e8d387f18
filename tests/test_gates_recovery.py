"""gates.py must stay verifiable on the DRIVER'S OWN artifact.

The driver records only the last 2000 chars of bench stdout. Round 9's
compact qbm line grew past that (85 rows ≈ 2,200 chars), the line
START — including the '"qbm":"' marker and the 8 §2 headline rows —
fell off the front, and `tools/gates.py BENCH_r09.json` exited 2: the
round's perf verification survived only because a /tmp copy of the
full record still existed (VERDICT r9 item 1). Two-sided fix under
test here:

- bench.py prints a guaranteed-short FINAL line (headline-8
  best/median + calib + n_benched) after the full qbm line;
- gates.py harvests complete name:best:median tokens from a mid-qbm
  truncation instead of requiring the '"qbm":"' prefix, and merges
  them with the final line's authoritative headline rows.

The test simulates the driver capture exactly: render a
registry-sized bench stdout (460 rows), keep the LAST 2000 chars,
wrap as {"tail": ...}, and require gates.py to exit 0 with the
headline rows present.
"""

import json
import subprocess
import sys
from pathlib import Path

from bench import qbf_tokens

REPO = Path(__file__).resolve().parent.parent

HEADLINE8 = [
    "q_agg_hash", "q_join_multi_5way", "q_window_rank", "q_pivot",
    "q_text_sentiment", "q_similarity_topk", "q_session_window",
    "q_flagship_etl",
]


def _qbf_line(stats: dict, total: float) -> str:
    """Mirror bench.py's r12 front-coded FINAL line, tokens encoded by
    bench.py itself."""

    def render(div: int, qv: str) -> str:
        return json.dumps({
            "metric": "headline_total_best_of_3", "value": total,
            "unit": "sec", "qbf": qbf_tokens(stats, div), "qv": qv,
            "sf": 0.1, "calib_spark_sec": 0.252, "compact": True,
            "final": True, "n_benched": len(stats),
        }, separators=(",", ":"))

    line = render(1, "cs")
    if len(line) > 1985:
        line = render(10, "ds")
    return line if len(line) <= 1985 else ""


def _fake_bench_stdout(n_rows: int, qbf: bool = True) -> str:
    """Render bench.py's stdout shape (4 lines since r12) for a huge
    registry; qbf=False reproduces the r10/r11 3-line shape."""
    stats = {f"q_extra_{i:03d}": [0.101 + i / 1e4, 0.111 + i / 1e4]
             for i in range(n_rows - len(HEADLINE8))}
    for j, q in enumerate(HEADLINE8):
        stats[q] = [0.2 + j / 100, 0.21 + j / 100]
    total = 1.234
    full = json.dumps({
        "metric": "headline_total_best_of_3", "value": total,
        "unit": "sec",
        "queries": {q: bm[0] for q, bm in stats.items()},
        "queries_best_median": stats, "sf": 0.1,
        "calib_spark_sec": 0.252,
    })
    qbm = json.dumps({
        "metric": "headline_total_best_of_3", "value": total,
        "unit": "sec",
        "qbm": " ".join(f"{q[2:]}:{b:.3f}:{m:.3f}"
                        for q, (b, m) in stats.items()),
        "sf": 0.1, "calib_spark_sec": 0.252, "compact": True,
        "n_benched": len(stats),
    }, separators=(",", ":"))
    final = json.dumps({
        "metric": "headline_total_best_of_3", "value": total,
        "unit": "sec",
        "gate8": " ".join(f"{q[2:]}:{stats[q][0]:.3f}:{stats[q][1]:.3f}"
                          for q in HEADLINE8),
        "sf": 0.1, "calib_spark_sec": 0.252, "compact": True,
        "final": True, "n_benched": len(stats),
    }, separators=(",", ":"))
    lines = [full, qbm, final]
    if qbf:
        fl = _qbf_line(stats, total)
        if fl:
            lines.append(fl)
    return "\n".join(lines) + "\n"


def _run_gates(artifact: dict, tmp_path: Path) -> tuple[int, str]:
    p = tmp_path / "BENCH_sim.json"
    p.write_text(json.dumps(artifact))
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools" / "gates.py"), str(p)],
        capture_output=True, text=True, cwd=str(REPO))
    return proc.returncode, proc.stdout + proc.stderr


def test_driver_truncated_tail_still_gates(tmp_path):
    stdout = _fake_bench_stdout(460)
    assert len(stdout) > 4000, "simulation must exceed the capture"
    artifact = {"parsed": None, "tail": stdout[-2000:]}
    rc, out = _run_gates(artifact, tmp_path)
    assert rc == 0, out
    # the headline-8 rows came from the final line, whole
    for q in HEADLINE8:
        assert q in out, f"{q} missing from gate output:\n{out}"
    # and harvested qbm remnants widened coverage beyond the 8
    assert "q_extra_" in out


def test_mid_token_truncation_rejects_partial_front_token(tmp_path):
    # cut INSIDE a token: the clipped front fragment must not be
    # harvested as a (wrong) query row
    stdout = _fake_bench_stdout(460)
    cut = stdout.rindex("q_extra_2")  # somewhere mid-qbm
    artifact = {"parsed": None, "tail": stdout[cut + 4:][-2000:]}
    rc, out = _run_gates(artifact, tmp_path)
    assert rc == 0, out
    assert "xtra_2" not in out.replace("q_extra_2", "")


def test_full_payload_still_preferred(tmp_path):
    stdout = _fake_bench_stdout(40)  # small registry: line survives
    artifact = {"parsed": json.loads(stdout.splitlines()[0])}
    rc, out = _run_gates(artifact, tmp_path)
    assert rc == 0, out


def test_parsed_is_final_line_r10_shape(tmp_path):
    """The r10 driver artifact: `parsed` = the guaranteed-short FINAL
    line (gate8, no queries/qbm) because that is the last JSON line in
    the truncated tail. gates.py r10 crashed with KeyError('queries')
    here — `b = b.get('parsed') or b` replaced the dict BEFORE the
    tail-recovery branch, which then skipped for lack of a 'tail' key
    (VERDICT r10 item 1). The fix must keep the OUTER tail for the
    qbm harvest AND treat parsed as the authoritative finals line."""
    stdout = _fake_bench_stdout(460)
    final_line = json.loads(stdout.splitlines()[-1])
    artifact = {"n": 460, "rc": 0, "cpus": 32, "sf": 0.1,
                "tail": stdout[-2000:], "parsed": final_line}
    rc, out = _run_gates(artifact, tmp_path)
    assert rc == 0, out
    for q in HEADLINE8:
        assert q in out, f"{q} missing from gate output:\n{out}"
    # coverage widened beyond the 8 via the outer tail's qbm remnants
    assert "q_extra_" in out


def test_parsed_is_final_line_without_tail(tmp_path):
    """Degenerate r10 shape with no outer tail at all: the gate8 rows
    alone must still gate-check (exit 0), not crash."""
    stdout = _fake_bench_stdout(460)
    final_line = json.loads(stdout.splitlines()[-1])
    artifact = {"parsed": final_line}
    rc, out = _run_gates(artifact, tmp_path)
    assert rc == 0, out
    for q in HEADLINE8:
        assert q in out, f"{q} missing from gate output:\n{out}"


def test_qbf_final_line_recovers_full_registry(tmp_path):
    """r11 VERDICT item 2: at 108 benched rows NO plain-token packing
    fits the driver's 2000-char tail, so bench.py now prints a
    front-coded FINAL line carrying every row. Simulated at the real
    registry size: gates.py must recover 108/108 rows from the tail
    alone."""
    stdout = _fake_bench_stdout(108)
    last = json.loads(stdout.splitlines()[-1])
    assert "qbf" in last, "108-row registry must fit the qbf line"
    artifact = {"n": 108, "rc": 0, "cpus": 32, "sf": 0.1,
                "tail": stdout[-2000:], "parsed": last}
    rc, out = _run_gates(artifact, tmp_path)
    assert rc == 0, out
    for q in HEADLINE8:
        assert q in out, f"{q} missing from gate output:\n{out}"
    n_rows = sum(1 for i in range(100) if f"q_extra_{i:03d}" in out)
    assert n_rows == 100, f"only {n_rows}/100 extra rows recovered:\n{out}"
    # decoded values survive the centisecond round-trip (0.101 -> 0.10)
    assert "q_extra_000" in out


def test_qbf_only_parsed_without_tail(tmp_path):
    """Degenerate shape: parsed = the qbf line, no outer tail. All
    rows must still gate-check from the front-coded payload alone."""
    stdout = _fake_bench_stdout(108)
    last = json.loads(stdout.splitlines()[-1])
    artifact = {"parsed": last}
    rc, out = _run_gates(artifact, tmp_path)
    assert rc == 0, out
    for q in HEADLINE8:
        assert q in out
    assert "q_extra_099" in out


def test_recovered_map_payload_merges_with_finals(tmp_path):
    """r10 ADVICE item 3: when the tail's recoverable line carries a
    queries_best_median MAP (not qbm tokens) alongside the finals
    line, the map rows must widen coverage, not be discarded."""
    stats = {f"q_extra_{i:03d}": [0.101, 0.111] for i in range(6)}
    for j, q in enumerate(HEADLINE8):
        stats[q] = [0.2 + j / 100, 0.21 + j / 100]
    qbm_map_line = json.dumps({
        "metric": "headline_total_best_of_3", "value": 1.0,
        "unit": "sec", "queries_best_median": stats, "sf": 0.1,
        "calib_spark_sec": 0.252})
    final_line = json.dumps({
        "metric": "headline_total_best_of_3", "value": 1.0,
        "unit": "sec",
        "gate8": " ".join(f"{q[2:]}:{stats[q][0]:.3f}:{stats[q][1]:.3f}"
                          for q in HEADLINE8),
        "sf": 0.1, "calib_spark_sec": 0.252, "final": True,
        "n_benched": len(stats)}, separators=(",", ":"))
    artifact = {"parsed": None,
                "tail": qbm_map_line + "\n" + final_line + "\n"}
    rc, out = _run_gates(artifact, tmp_path)
    assert rc == 0, out
    assert "q_extra_000" in out, out


def test_qbf_deciseconds_round_to_nearest():
    """bench.py's decisecond fallback rounds to nearest, not down:
    0.19 s encodes as 2 ds, not 1 (0.09 s low)."""
    stats = {"q_agg_hash": [0.19, 0.2], "q_agg_sum": [0.14, 0.15],
             "q_pivot": [1.96, 2.0]}
    assert qbf_tokens(stats, 10) == "0agg_hash:2 4sum:1 0pivot:20"
    assert qbf_tokens(stats, 1) == "0agg_hash:19 4sum:14 0pivot:196"
    for i in range(0, 3000, 7):
        ds = int(qbf_tokens({"q_x": [i / 1000, 0.0]}, 10).split(":")[1])
        assert abs(ds / 10 - i / 1000) <= 0.05 + 1e-9, i


def test_qbf_damaged_token_fails_loudly(tmp_path):
    """A damaged front-coded token breaks the prefix chain for every
    later name: the decode must stop with an error instead of gating
    rows under wrong names."""
    stdout = _fake_bench_stdout(108)
    last = json.loads(stdout.splitlines()[-1])
    toks = last["qbf"].split()
    toks[40] = "#" + toks[40][1:]  # not a base36 prefix length
    last["qbf"] = " ".join(toks)
    rc, out = _run_gates({"parsed": last}, tmp_path)
    assert rc == 2, out
    assert "damaged qbf token" in out, out
    assert "q_extra_" not in out.replace("after q_extra_", "")


def test_qbf_best_only_rows_are_flagged_per_line(tmp_path):
    """Rows whose median is the qbf line's best-only value are flagged
    on their own output line; rows with a real median are not."""
    stdout = _fake_bench_stdout(108)
    gate8_line, qbf_line = stdout.splitlines()[-2:]
    artifact = {"parsed": json.loads(qbf_line),
                "tail": gate8_line + "\n" + qbf_line + "\n"}
    rc, out = _run_gates(artifact, tmp_path)
    assert rc == 0, out
    rows = {ln.split()[0]: ln for ln in out.splitlines()
            if ln.startswith("q_")}
    flag = "(median=best: qbf best-only)"
    assert all(flag not in rows[q] for q in HEADLINE8), out
    extra = [q for q in rows if q.startswith("q_extra_")]
    assert len(extra) == 100 and all(flag in rows[q] for q in extra), out
