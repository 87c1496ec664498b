"""Record the default-seed input fingerprints in perfbench/fingerprints.json.

    python3 perfbench/pin_inputs.py

Run it only when a change to the inputs is intended (a new corpus size or
profile, or a deliberate change to the pages generator); every benchmark
run fails its input check until the recorded fingerprints match again.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402  (ROOT and isolate(), after the path insert above)


def main() -> None:
    with tempfile.TemporaryDirectory(dir=run.ROOT) as tmp:
        run.isolate(Path(tmp))
        import corpus
        import workloads
        from qwen_ocr_spark.sources import pages
        spark = workloads._session()
        pins = {}
        for name, (n_docs, profile) in workloads.PAGES_INPUTS.items():
            path = str(Path(tmp) / name)
            pages.write_pages(spark, path, n_docs, seed=corpus.DEFAULT_SEED,
                              profile=profile)
            pins[name] = {
                "generator_sample": corpus.generator_sample_digest(profile),
                "corpus": corpus.fingerprint(path, corpus.DEFAULT_SEED, n_docs, profile),
            }
            shutil.rmtree(path)
        pins["query_suite"] = {"corpus": corpus.write_query_tables(
            str(Path(tmp) / "sf"), corpus.DEFAULT_SEED)}
        workloads.shutdown_jvm()
    corpus.FINGERPRINTS.write_text(json.dumps(pins, indent=1, sort_keys=True) + "\n")
    print(f"wrote {corpus.FINGERPRINTS}")


if __name__ == "__main__":
    main()
