"""The 1e-6 grid has one home: ``tempo_spark/functions/grid.py``.

Every cross-engine exactness contract rests on the same hardened floor
``floor(x*1e6 + 0.5)/1e6``; a second spelling of it can drift (a local
copy once skipped the NaN guard and fed NaN into fit_trend as 0.0). This
test fails when the quantization is written anywhere else under
``tempo_spark/`` — in the Column API or in SQL text.
"""

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "tempo_spark"
HOME = PKG / "functions" / "grid.py"

# floor( … * 1e6 + 0.5 — after ast.unparse, 1e6 and 1_000_000 read as
# 1000000.0 / 1000000; the SQL text keeps 1000000[.0][D] and 0.5[D]
_QUANTIZE = re.compile(
    r"floor\((?:(?!floor\().){0,200}?\*\s*1000000(?:\.0)?D?\s*\+\s*"
    r"(?:F\.lit\()?0\.5"
)


def _code(path: Path) -> str:
    """The module's code with comments and docstrings dropped — prose may
    describe the grid, only code may not build it."""
    tree = ast.parse(path.read_text())
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if (
            isinstance(body, list)
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            body[0] = ast.Pass()
    return ast.unparse(tree)


def test_pattern_matches_every_spelling():
    hits = [
        'F.floor(d * 1e6 + F.lit(0.5)) / F.lit(1e6)',
        'F.floor(c * 1_000_000 + F.lit(0.5)) / 1_000_000',
        'f"floor(({sql}) * 1000000.0D + 0.5D) / 1000000.0D"',
        '"(floor(jaccard * 1000000 + 0.5) / 1000000) AS jaccard"',
        'F.floor(F.col("score") * 1_000_000 + F.lit(0.5))',
    ]
    misses = [
        "int(d.timestamp() * 1_000_000)",  # µs <-> s conversions
        "(wm_us - mn) / 1e6",
        "int(round(f.seconds * 1e6))",
        "F.floor(lo_d / width)",
    ]
    for src in hits:
        assert _QUANTIZE.search(ast.unparse(ast.parse(src))), src
    for src in misses:
        assert not _QUANTIZE.search(ast.unparse(ast.parse(src))), src
    assert _QUANTIZE.search(_code(HOME))


def test_grid_is_defined_only_in_functions_grid():
    offenders = [
        f"{p.relative_to(PKG.parent)}: {m.group(0)}"
        for p in sorted(PKG.rglob("*.py"))
        if p != HOME
        for m in _QUANTIZE.finditer(_code(p))
    ]
    assert not offenders, "1e-6 grid spelled outside functions/grid.py:\n" + "\n".join(
        offenders
    )


def test_forms_agree(spark):
    # every spelling of the grid computes the same value; the guarded
    # forms turn NaN (and NULL) into NULL
    import math

    import pyspark.sql.functions as F

    from tempo_spark.functions.grid import (
        grid6,
        grid6_sql,
        grid6_units,
        hardened_round6,
        q6_sql,
    )

    vals = [0.0, 1.0, 0.1234565, 2.5e-7, -3.0000005, 123456.789012, None, float("nan")]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    rows = df.select(
        "x",
        grid6("x").alias("g"),
        F.expr(grid6_sql("`x`")).alias("gs"),
        F.expr(q6_sql("x")).alias("qs"),
        hardened_round6(F.col("x")).alias("h"),
        grid6_units(F.col("x")).alias("u"),
    ).collect()
    for r in rows:
        if r.x is None or math.isnan(r.x):
            assert r.g is None and r.gs is None, r
            continue
        want = math.floor(r.x * 1e6 + 0.5) / 1e6
        assert r.g == r.gs == r.qs == r.h == want, r
        assert r.u == math.floor(r.x * 1e6 + 0.5), r
