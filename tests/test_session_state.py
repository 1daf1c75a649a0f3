"""Session-lived state goes through one mechanism: ``session.session_memo``
for memoized per-session builds, ``streaming.pipelines`` for stream drains.

The guard below is Spark-free (it reads source files); the memo tests run
in the shared test session and never stop it."""

import ast
import uuid
from pathlib import Path

import aws_glue_data_lake_spark
from aws_glue_data_lake_spark import session as session_mod
from aws_glue_data_lake_spark.session import session_memo

QUERIES_DIR = Path(aws_glue_data_lake_spark.__file__).parent / "queries"

#: Text that marks a hand-rolled session cache or stream drain.
_FORBIDDEN = ("applicationId", "awaitTermination(", "processAllAvailable(")

#: (file, top-level function, token) allowed anyway: the lake MV drain
#: interleaves appends with catch-ups on one running query, which no
#: start-wait-stop helper covers.
_ALLOWED = {
    ("cdc_queries.py", "lake_incremental_mv_state", "processAllAvailable("),
}

_DICT_FACTORIES = {"dict", "defaultdict", "OrderedDict", "WeakValueDictionary"}


def _is_empty_mapping(node) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, ast.Call):
        f = node.func
        return getattr(f, "id", getattr(f, "attr", None)) in _DICT_FACTORIES
    return False


def _violations(name: str, src: str) -> list[str]:
    tree = ast.parse(src)
    spans = [
        (min([n.lineno] + [d.lineno for d in n.decorator_list]),
         n.end_lineno, n.name)
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    out = []
    for i, line in enumerate(src.splitlines(), 1):
        for token in _FORBIDDEN:
            if token not in line:
                continue
            fn = next((f for a, b, f in spans if a <= i <= b), None)
            if (name, fn, token) not in _ALLOWED:
                out.append(f"{name}:{i}: {token}")
    for node in tree.body:
        if isinstance(node, (ast.Assign, ast.AnnAssign)) and _is_empty_mapping(
            node.value
        ):
            out.append(f"{name}:{node.lineno}: module-level dict")
    return out


def test_queries_keep_session_state_in_one_place():
    problems = [
        v
        for path in sorted(QUERIES_DIR.glob("*.py"))
        for v in _violations(path.name, path.read_text())
    ]
    assert not problems, (
        "memoize through session.session_memo and drain through "
        "streaming.pipelines: " + "; ".join(problems)
    )


def test_guard_flags_planted_cache_and_drain():
    planted = (
        "_MY_CACHE: dict = {}\n"
        "def lake_incremental_mv_state(spark):\n"
        "    key = spark.sparkContext.applicationId\n"
        "    q.awaitTermination(5)\n"
        "    q.processAllAvailable()\n"
    )
    found = _violations("cdc_queries.py", planted)
    assert found == [
        "cdc_queries.py:3: applicationId",
        "cdc_queries.py:4: awaitTermination(",
        "cdc_queries.py:1: module-level dict",
    ]
    # the allowlisted drain is real: the MV query still hand-rolls it
    src = (QUERIES_DIR / "cdc_queries.py").read_text()
    assert "q.processAllAvailable()" in src


@session_memo
def _range_probe(spark, n: int, tag: str = "probe"):
    return spark.range(n)


def test_memo_releases_other_applications_on_next_miss(spark):
    stale = spark.range(11).persist()
    stale.count()
    assert stale.storageLevel.useMemory
    fake_key = (_range_probe, "app-that-ended", (11, "probe"))
    session_mod._MEMO[fake_key] = (stale, "/stale/stage/dir")

    _range_probe(spark, uuid.uuid4().int % 10_000 + 20)  # a fresh miss

    assert fake_key not in session_mod._MEMO
    assert not stale.is_cached
    assert not stale.storageLevel.useMemory
    app = spark.sparkContext.applicationId
    assert all(k[1] == app for k in list(session_mod._MEMO))


def test_memo_hit_is_the_same_object_and_runs_no_job(spark):
    builds = []

    @session_memo
    def build(spark, n, label="x"):
        builds.append(n)
        df = spark.range(n).persist()
        df.count()
        return df

    sc = spark.sparkContext
    first = build(spark, 7)
    group = f"memo-hit-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "memo hit probe")
    try:
        again = build(spark, 7)
        by_keyword = build(spark, n=7, label="x")
        no_jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        spark.range(3).count()  # the probe sees jobs of this group
        control = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        first.unpersist()
    assert again is first and by_keyword is first
    assert builds == [7]
    assert no_jobs == []
    assert control
