"""The epoch-fold store's layout, stream wiring and winner merge live
in kspp_spark/streaming/epochs.py only. Spark-free: parses the other
streaming modules and fails on any that re-implements one of them."""

import ast
import pathlib

_STREAMING = pathlib.Path(__file__).resolve().parents[1] / "kspp_spark" / "streaming"


def _docstrings(tree):
    """The docstring nodes of a module and its classes/functions."""
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                yield body[0].value


def _violations(source: str) -> list[str]:
    tree = ast.parse(source)
    docs = set(map(id, _docstrings(tree)))
    found = []
    for node in ast.walk(tree):
        line = getattr(node, "lineno", "?")
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "trigger"
            and any(k.arg == "availableNow" for k in node.keywords)
        ):
            found.append(f"{line}: .trigger(availableNow=...) stream wiring")
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and "epoch=" in node.value
            and id(node) not in docs
        ):
            found.append(f"{line}: builds an epoch= path")
        if (
            isinstance(node, ast.Call)
            and getattr(node.func, "attr", getattr(node.func, "id", None)) == "max"
            and any(
                isinstance(n, ast.Constant) and n.value == "epoch"
                for arg in node.args
                for n in ast.walk(arg)
            )
        ):
            found.append(f"{line}: epoch-winner aggregation max(... 'epoch' ...)")
    return found


def test_epoch_store_convention_lives_in_epochs_module():
    offenders = {
        path.name: v
        for path in sorted(_STREAMING.glob("*.py"))
        if path.name != "epochs.py"
        for v in [_violations(path.read_text())]
        if v
    }
    assert not offenders, offenders


def test_epoch_store_checker_flags_each_pattern():
    src = '''
def f(df, base, epoch_id):
    """docstrings may describe epoch=<id> dirs"""
    df.writeStream.foreachBatch(g).trigger(availableNow=True).start()
    df.write.parquet(os.path.join(base, f"epoch={int(epoch_id)}"))
    df.write.parquet(os.path.join(base, "epoch=-1"))
    df.groupBy("id").agg(F.max(F.struct("_seq", "epoch")))
    df.groupBy("id").agg(F.max("epoch"))
'''
    got = _violations(src)
    assert len(got) == 5, got
    assert not any(v.startswith("3:") for v in got), got
