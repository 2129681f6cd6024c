"""The program reads only deployment settings from the environment.

Tuning values are module constants next to the measurements that chose
them; what a deployment may set is the session size (cores, driver
memory, shuffle width) and two scratch paths. A new environment read
fails this test until it is added here on purpose. No Spark session.
"""

from __future__ import annotations

import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "bc_proj3_spark"

DEPLOYMENT_VARS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_SHUFFLE",
    "SPARK_GRAFT_INDEX_SPILL_DIR",
    "SPARK_GRAFT_STREAM_SCRATCH",
}

#: any mention of the environment API
_ENV_API = re.compile(r"\benviron\b|\bgetenv\b|\bgetenvb\b|\benvironb\b")
#: a read by literal name: os.environ.get("X"), os.environ["X"], os.getenv("X")
_LITERAL_READ = re.compile(
    r"""\bos\.(?:environ\.get\(|environ\[|getenv\()\s*["']([A-Za-z0-9_]+)["']"""
)


def _env_lines() -> list[tuple[str, int, str]]:
    out = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for no, line in enumerate(path.read_text(encoding="utf-8").splitlines(), 1):
            code = line.split("#", 1)[0]
            if _ENV_API.search(code):
                out.append((str(path.relative_to(PACKAGE.parent)), no, code))
    return out


def test_every_environment_read_names_a_literal_variable():
    lines = _env_lines()
    assert lines, "no environment read found: the scan is broken"
    opaque = [
        f"{f}:{n}: {c.strip()}"
        for f, n, c in lines
        if len(_LITERAL_READ.findall(c)) != len(_ENV_API.findall(c))
    ]
    assert not opaque, "environment accessed other than by a literal name:\n" + "\n".join(opaque)


def test_program_reads_exactly_the_deployment_variables():
    read = {name for _f, _n, c in _env_lines() for name in _LITERAL_READ.findall(c)}
    assert read == DEPLOYMENT_VARS, (
        f"unexpected: {sorted(read - DEPLOYMENT_VARS)}, "
        f"no longer read: {sorted(DEPLOYMENT_VARS - read)}"
    )
