"""Per-layer table of a traced run.

    python3 perfbench/run.py --workload W --seed S --seconds T --trace 1 > traced.out
    python3 perfbench/run.py --workload W --seed S --seconds T --trace 0 > untraced.out
    python3 perfbench/table.py traced.out [untraced.out]

Each row is a layer: the time its spans cover, its self time (covered
minus its children's spans) and that self time's share of the measured
run. The footer gives the run time no span covers, the tracer's own
bookkeeping inside the loop and, with an untraced run of the same
workload and seed, the tracing overhead as the difference of the two
runs' operation wall and CPU times (on a host whose speed drifts, take
it from runs made back to back).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.tracing import LAYERS, layer_of  # noqa: E402


def load(path: str) -> tuple[dict, dict]:
    with open(path, encoding="utf-8") as fh:
        lines = [ln for ln in fh.read().splitlines() if ln.startswith("{")]
    return json.loads(lines[-2]), json.loads(lines[-1])


def op_seconds(detail: dict) -> tuple[float, float]:
    """Timed wall seconds and CPU seconds of the run's operations."""
    ops = detail["ops"]
    return sum(s for op in ops for _, s in op["parts"]), sum(op["cpu_s"] for op in ops)


def rows(detail: dict) -> list[tuple[str, float, float]]:
    spans = detail["spans"]["spans"]
    covered = dict.fromkeys(LAYERS, 0.0)
    selfs = dict.fromkeys(LAYERS, 0.0)
    for i, s in enumerate(spans):
        layer = layer_of(s["name"])
        selfs[layer] += s["self_s"]
        # a layer covers the time of its outermost spans only
        p = s["parent"]
        while p is not None and layer_of(spans[p]["name"]) != layer:
            p = spans[p]["parent"]
        if p is None:
            covered[layer] += s["end"] - s["start"]
    return [(layer, covered[layer], selfs[layer]) for layer in LAYERS if covered[layer]]


def main(argv: list[str]) -> int:
    traced, _ = load(argv[0])
    run_s = traced["run_s"]
    print(f"{traced['workload']} seed {traced['seed']}: run {run_s:.3f} s")
    print(f"{'layer':<24}{'covered_s':>12}{'self_s':>12}{'self_share':>12}")
    for layer, cov, own in rows(traced):
        print(f"{layer:<24}{cov:>12.3f}{own:>12.3f}{own / run_s:>12.1%}")
    sp = traced["spans"]
    print(f"{'uncovered':<24}{'':>12}{sp['uncovered_s']:>12.3f}{sp['uncovered_s'] / run_s:>12.1%}")
    print(f"tracer bookkeeping in the loop: {sp['overhead_s']:.3f} s; status-store read after it: {sp['collect_s']:.3f} s")
    if len(argv) > 1:
        (wall_t, cpu_t), (wall_u, cpu_u) = op_seconds(traced), op_seconds(load(argv[1])[0])
        print(
            f"tracing overhead (traced - untraced operations): wall {wall_t - wall_u:+.3f} s, "
            f"CPU {cpu_t - cpu_u:+.3f} s"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
