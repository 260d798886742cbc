"""BENCH.md renderer, no Spark session: the committed full-run payload plus
the committed sweep history render into tables that agree with
sweep_summary() and with the one is_clean() gate."""

import json
import os
import re

import bench


def _table(lines: list[str], header_start: str) -> list[list[str]]:
    """Body rows (cells stripped) of the markdown table whose header line
    starts with `header_start`."""
    i = next(n for n, ln in enumerate(lines) if ln.startswith(header_start))
    rows = []
    for ln in lines[i + 2:]:  # skip header + |---| separator
        if not ln.startswith("|"):
            break
        rows.append([c.strip() for c in ln.strip("|").split("|")])
    return rows


def test_render_committed_payload(tmp_path, monkeypatch):
    with open(os.path.join(bench.REPO, "BENCH_payload.json")) as f:
        payload = json.load(f)
    with open(bench.SWEEP_FILE) as f:
        history = json.load(f)
    sweep = bench.sweep_summary()
    payload["scaling_sweep"] = sweep
    repo = bench.REPO
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    bench.write_bench_md(payload)
    text = (tmp_path / "BENCH.md").read_text()
    lines = text.splitlines()

    assert len(_table(lines, "| corpus |")) == len(sweep)
    sessions = _table(lines, "| session (UTC) |")
    assert len(sessions) == sum(
        1 for e in history if (e.get("machine_envelope") or {}).get("bw_eff"))
    gates = [row[6] for row in sessions]
    assert gates.count("ok") == sum(r["clean_sessions"] for r in sweep)

    cited = set(re.findall(r"scripts/[\w./-]*\w", text))
    missing = [p for p in cited if not os.path.exists(os.path.join(repo, p))]
    assert not missing, missing
