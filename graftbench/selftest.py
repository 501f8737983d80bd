"""Self-test of the benchmark at a tiny size.

    python3 graftbench/selftest.py      # from the repository root

Runs every workload of BENCHMARK.json once, traced, on a tiny input, and
checks that the result line names every per-layer metric and the detail
line every end-to-end metric, each with its declared unit and a number
(build_scaling_eff may be null when the detail line gives the reason),
and that every checked operation passed. Takes about a minute per
workload, nearly all of it JVM and Spark start-up.
"""
import json
import pathlib
import subprocess
import sys

RUN = pathlib.Path(__file__).resolve().parent / "run.py"


def check_metrics(where, got, spec, nullable=()):
    names = [m["name"] for m in spec]
    missing = [n for n in names if n not in got]
    extra = [n for n in got if n not in names]
    assert not missing and not extra, f"{where}: missing {missing}, unexpected {extra}"
    for m in spec:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], f"{where}: {m['name']} unit {v['unit']} != {m['unit']}"
        ok = isinstance(v["value"], (int, float)) or (v["value"] is None and m["name"] in nullable)
        assert ok, f"{where}: {m['name']} value {v['value']!r} is not a number"


def main() -> int:
    spec = json.loads(pathlib.Path("BENCHMARK.json").read_text())
    for w in spec["workloads"]:
        name = w["name"]
        r = subprocess.run([sys.executable, str(RUN), "--workload", name, "--seed", "7",
                            "--seconds", "1", "--trace", "1", "--size", "tiny"],
                           capture_output=True, text=True, timeout=900)
        assert r.returncode == 0, f"{name}: exit {r.returncode}\n{r.stderr[-3000:]}"
        detail, result = (json.loads(x) for x in r.stdout.strip().splitlines()[-2:])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}, f"{name}: result keys {set(result)}"
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, \
            f"{name}: {json.dumps(detail['ops'])}"
        check_metrics(f"{name} per-layer", result["metrics"], spec["per_layer"])
        nullable = tuple(detail["null_reasons"])
        check_metrics(f"{name} end-to-end", detail["end_to_end"], spec["end_to_end"], nullable)
        assert detail["input_hash"] and detail["inputs"], f"{name}: no input hash or properties"
        print(f"selftest: {name} ok ({result['attempted']} operations checked)")
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
