"""Pin the fingerprints of the queries a new verdict file judged green.

    python tools/gen_fingerprints.py CORRECTNESS_rN.json

For every query that file judged green, pins its current transitive
fingerprint at round N in tools/query_fingerprints.json; drops the pin of
every query it judged otherwise. Refuses N at or below the highest round
already pinned: a query edited after round N's gate ran must not be
blessed by re-running an old file. The gate order
(shared_etl_pipelines_spark/fingerprint.py) treats a query as fresh only
while its pin matches its latest verdict round and its code.

Run it right after landing the new CORRECTNESS_rN.json in the repo root,
before editing any query.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from shared_etl_pipelines_spark import fingerprint as fp  # noqa: E402


def pin(verdict_path: str, registry: dict, root: str = fp.ROOT) -> dict[str, dict]:
    """Update the pins under ``root`` from one verdict file; return them."""
    rnd = fp.verdict_round(verdict_path)
    pins = fp.load_pins(root)
    top = max((p["round"] for p in pins.values()), default=0)
    if rnd <= top:
        raise SystemExit(f"round {rnd} is not after the highest pinned round {top}; refusing")
    with open(verdict_path) as fh:
        judged = json.load(fh)
    walker = fp.Fingerprinter()
    for name, verdict in judged.items():
        if fp.passed(verdict) and name in registry:
            pins[name] = {"round": rnd, "sha256": walker.fingerprint(registry[name])}
        else:
            pins.pop(name, None)
    write_pins(pins, root)
    return pins


def write_pins(pins: dict[str, dict], root: str = fp.ROOT) -> None:
    """One line per query, so a re-pin diffs as the lines it changed."""
    lines = [f" {json.dumps(n)}: {json.dumps(pins[n], sort_keys=True)}" for n in sorted(pins)]
    with open(os.path.join(root, fp.PINS), "w") as fh:
        fh.write("{\n" + ",\n".join(lines) + "\n}\n")


def main(argv: list[str]) -> None:
    if len(argv) != 2:
        raise SystemExit(__doc__)
    from shared_etl_pipelines_spark.queries import REGISTRY

    pins = pin(argv[1], REGISTRY)
    rnd = fp.verdict_round(argv[1])
    print(f"{sum(p['round'] == rnd for p in pins.values())} pinned at round {rnd}; "
          f"{len(pins)} pins in all")


if __name__ == "__main__":
    main(sys.argv)
