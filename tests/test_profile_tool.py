"""tools/query_profile.py end to end: interleaved reps, the median rep's wall
charged to driver gaps and job time, and the UDF-profiled pass. Runs in a
subprocess because the tool starts its own session with the event log on.
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_profile_tool_reconciles_walls():
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001")
    names = ["q01_pricing_summary", "q_kg_kcore"]
    tool = os.path.join(REPO, "tools", "query_profile.py")
    out = subprocess.run(
        [sys.executable, tool, ",".join(names), "2"],
        env=env,
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.splitlines()[-1])
    assert sorted(res["queries"]) == sorted(names)
    assert 0 <= res["stamp"]["steal"] <= 1, res["stamp"]
    for name, q in res["queries"].items():
        assert len(q["walls"]) == 2, name
        assert len(q["steal"]) == 2 and all(0 <= x <= 1 for x in q["steal"]), q
        assert q["min"] <= q["median"], name
        assert q["jobs"] >= 1, name
        wall = q["median"]
        assert abs(wall - (q["driver_gap_s"] + q["busy_s"])) <= 0.1 * wall, (name, q)
        parts = [
            q["gap_outside_sql_s"], q["gap_to_first_job_s"], q["gap_between_jobs_s"]
        ]
        assert min(parts) >= 0, (name, q)
        assert abs(sum(parts) - q["driver_gap_s"]) <= 0.1 * q["driver_gap_s"], (name, q)
        # both queries run SQL executions with jobs: some of the gap is
        # inside them
        assert q["gap_to_first_job_s"] + q["gap_between_jobs_s"] > 0, (name, q)
        assert "udf_self_s" in q and "error_lines" in q, name
