"""Regenerate the committed golden files (run manually, outputs are
committed):

    python tests/gen_goldens.py            # goldens/tiny_digests.json
    python tests/gen_goldens.py registry   # goldens/entry_registry.json

Digest goldens are produced by the single-process kernel implementation —
the same code the Spark job runs inside mapInPandas — over the
deterministic tiny corpus (seed 42, 200 rows). The pytest suite and the
driver's smoke check both compare against this file (FIXTURES.md §3).

The registry golden pins the driver contract of ``__spark_entry__``: the
ordered ``queries()`` keys and the sha256 of every ``oracle_sql()``
string. Regenerate it only for an intended contract change — a refactor
of the registry must leave it byte-identical.
"""

from __future__ import annotations

import hashlib
import json
import pathlib
import sys

_REPO_ROOT = str(pathlib.Path(__file__).resolve().parent.parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from paddle_spark.kernels.extract import extract_document
from paddle_spark.sources.synth import gen_pages_pdf

TINY_ROWS = 200
SEED = 42
GOLDENS = pathlib.Path(__file__).parent / "goldens"
OUT = GOLDENS / "tiny_digests.json"
REGISTRY_OUT = GOLDENS / "entry_registry.json"


def registry_contract() -> dict:
    """Ordered ``queries()`` keys, the sha256 of each ``oracle_sql()``
    string, and the rows-only entries (no oracle)."""
    import __spark_entry__ as entrymod

    queries = list(entrymod.queries())
    oracles = entrymod.oracle_sql()
    return {
        "queries": queries,
        "oracle_sha256": {
            name: hashlib.sha256(sql.encode("utf-8")).hexdigest()
            for name, sql in sorted(oracles.items())
        },
        "rows_only": [q for q in queries if q not in oracles],
    }


def main() -> None:
    if sys.argv[1:] == ["registry"]:
        contract = registry_contract()
        REGISTRY_OUT.write_text(json.dumps(contract, indent=1) + "\n")
        print(
            f"wrote {len(contract['queries'])} queries, "
            f"{len(contract['oracle_sha256'])} oracles -> {REGISTRY_OUT}"
        )
        return
    pdf = gen_pages_pdf(TINY_ROWS, seed=SEED)
    goldens = {}
    for _, row in pdf.iterrows():
        r = extract_document(row["html"])
        goldens[row["url"]] = {
            "text_sha256": r.text_sha256,
            "n_blocks_kept": r.n_blocks_kept,
            "n_blocks_dropped": r.n_blocks_dropped,
            "parse_ok": r.parse_ok,
            "branch": r.branch,
        }
    OUT.parent.mkdir(exist_ok=True)
    OUT.write_text(json.dumps(goldens, indent=0, sort_keys=True))
    ok = sum(1 for g in goldens.values() if g["parse_ok"])
    print(f"wrote {len(goldens)} goldens ({ok} parse_ok) -> {OUT}")


if __name__ == "__main__":
    main()
