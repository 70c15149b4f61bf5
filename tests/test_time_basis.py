"""The engine converts TIMESTAMP_NTZ to an epoch number in one place.

``functions/timeutils.py`` holds the NTZ → epoch conversion
(``ntz_epoch_sql``) and the band/bucket basis built on it. A second spelling
of it elsewhere can drift from it unnoticed, as a session-zone cast once did
in ``nn_join`` (DESIGN.md rule 9). Spark-free: this scans the Python sources.
The DuckDB oracles' ``epoch_us(...)`` is another engine's function and does
not match.
"""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
HOME = ROOT / "statefulstreamprocessor_spark" / "functions" / "timeutils.py"
CONVERSION = re.compile(r"timestamp_diff|timestampdiff|1970-01-01", re.IGNORECASE)


def test_ntz_epoch_conversion_lives_only_in_timeutils():
    sources = [*sorted((ROOT / "statefulstreamprocessor_spark").rglob("*.py")),
               ROOT / "__spark_entry__.py"]
    hits = [
        f"{path.relative_to(ROOT)}:{n}: {line.strip()}"
        for path in sources
        if path != HOME
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if CONVERSION.search(line)
    ]
    assert not hits, "NTZ → epoch conversion outside functions/timeutils.py:\n" + "\n".join(hits)
    assert CONVERSION.search(HOME.read_text())
