"""Source guards: the single-eval kernel form and the optimized-plan walk
each live in one module of the package, so neither grows per-call-site
copies again."""

import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "rasterframes_spark"


def _files_containing(token: str) -> list[str]:
    return sorted(p.relative_to(PKG).as_posix() for p in PKG.rglob("*.py")
                  if token in p.read_text(encoding="utf-8"))


def test_nondeterministic_udfs_only_in_kernel_module():
    # every single-eval kernel is lazy_pandas_udf's ``.once``
    assert _files_containing("asNondeterministic(") == [
        "functions/_kernel.py"]


def test_optimized_plan_only_in_plan_module():
    # every plan-shape and statistic read goes through _plan.py
    assert _files_containing("optimizedPlan()") == ["_plan.py"]
