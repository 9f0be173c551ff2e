"""Shared kernels of the near-duplicate, graph-fixpoint, text and
exactness families: both fixpoint loops fail loudly at their round
bound, the peel takes one action per round, every query that claims a
kernel runs it, the n-gram window matches a pure-Python reference,
each text and exactness kernel is written once, and the registry keeps
its docstrings."""

from __future__ import annotations

import ast
import inspect
import io
import os
import re
import subprocess
import sys
import textwrap
import tokenize

import pytest
from pyspark.sql import functions as F

from mrtweety_analytic_spark.operators import dedup, graph
from mrtweety_analytic_spark.operators.textops import _word_ngrams
from mrtweety_analytic_spark.queries import QUERIES
from mrtweety_analytic_spark.util import ngram_windows

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _path_pairs(spark, n: int):
    """(doc_a, doc_b) edges of the path 1 - 2 - ... - n."""
    return spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "doc_a long, doc_b long"
    )


def test_label_propagation_raises_when_its_bound_runs_out(spark):
    # A 6-node path has diameter 5: label 1 reaches node 6 in round 5
    # and round 6 is the quiet round that proves convergence.
    pairs = _path_pairs(spark, 6)
    with pytest.raises(RuntimeError, match="still changing after 5 rounds"):
        dedup.min_label_propagate(pairs, 5)
    labels = dedup.min_label_propagate(pairs, 6).collect()
    assert sorted((r.doc, r.label) for r in labels) == [
        (i, 1) for i in range(1, 7)
    ]


def test_peel_raises_when_its_bound_runs_out(spark):
    # Each round peels the two ends of a path: 6 -> 4 -> 2 -> 0 nodes.
    edges = _path_pairs(spark, 6)
    both = edges.unionByName(
        edges.selectExpr("doc_b AS doc_a", "doc_a AS doc_b")
    ).toDF("src", "dst")
    with pytest.raises(RuntimeError, match="still peeling after 2 rounds"):
        graph._peel(both, "src", "dst", 2)
    assert graph._peel(both, "src", "dst", 3).count() == 0


def _next_job(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _cycle_with_pendant_chain(spark, chain: int):
    """Both directions of the 4-cycle 1-2-3-4 with the path 4-5-...
    hanging off node 4; the peel removes one chain node per round."""
    e = [(1, 2), (2, 3), (3, 4), (4, 1)]
    e += [(4 + i, 5 + i) for i in range(chain)]
    return spark.createDataFrame(
        e + [(b, a) for a, b in e], "src long, dst long"
    )


def test_peel_takes_one_action_per_round(spark):
    jobs = {}
    for chain in (2, 3):
        edges = _cycle_with_pendant_chain(spark, chain)
        before = _next_job(spark)
        core = graph._peel(edges, "src", "dst", 10)
        jobs[chain] = _next_job(spark) - before
        assert sorted(tuple(r) for r in core.collect()) == sorted(
            [(1, 2), (2, 3), (3, 4), (4, 1), (2, 1), (3, 2), (4, 3), (1, 4)]
        )
    # one more chain node costs one more round: its survivor-set
    # broadcast (the second semi-join reuses it), the degree shuffle
    # and the survivor count's two stages. An eager checkpoint would
    # add a fifth job.
    assert jobs[3] - jobs[2] == 4


def test_kcore_cert_job_count(spark, sf_dir):
    QUERIES["q_graph_kcore_cert"](spark, sf_dir)  # warm the table schemas
    before = _next_job(spark)
    QUERIES["q_graph_kcore_cert"](spark, sf_dir)
    # 9 jobs build the trade graph's checkpoint, 3 the first survivor
    # set and its count; at sf0.001 the peel takes 2 rounds of 4 jobs
    assert _next_job(spark) - before == 20


@pytest.mark.parametrize(
    "module, kernel, names",
    [
        (
            dedup,
            "min_label_propagate",
            ["q_dedup_clusters", "q_sim_semantic_clusters",
             "q_graph_components_cert"],
        ),
        (graph, "_peel", ["q_graph_kcore", "q_graph_kcore_cert"]),
    ],
    ids=["min_label_propagate", "peel"],
)
def test_queries_run_the_shared_kernel(
    spark, sf_dir, monkeypatch, module, kernel, names
):
    real = getattr(module, kernel)
    calls = []

    def spy(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(module, kernel, spy)
    for name in names:
        calls.clear()
        QUERIES[name](spark, sf_dir)
        assert len(calls) == 1, name


# empty text, one token, fewer tokens than n, runs of spaces, only
# spaces (filters to an empty array), null text
_TEXTS = ["", "one", "a b", "a b c d e f", "a  b   c d e", "   ", None]


def _py_ngrams(toks, n: int):
    if toks is None:
        return None
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


@pytest.mark.parametrize("n", [2, 3, 4, 5])
def test_ngram_windows_match_a_python_reference(spark, n):
    df = spark.createDataFrame(list(enumerate(_TEXTS)), "id int, text string")
    ws = F.split("text", " ")
    nonempty = F.filter(ws, lambda x: x != "")
    rows = df.select(
        "text",
        ngram_windows(ws, n).alias("win"),
        _word_ngrams(ws, n).alias("grams"),
        _word_ngrams(nonempty, n).alias("grams_nonempty"),
    ).collect()
    assert len(rows) == len(_TEXTS)
    for r in rows:
        toks = None if r.text is None else r.text.split(" ")
        want = _py_ngrams(toks, n)
        assert r.grams == want, r.text
        win = None if r.win is None else [
            " ".join(w[str(i)] for i in range(n)) for w in r.win
        ]
        assert win == want, r.text
        kept = None if toks is None else [t for t in toks if t]
        assert r.grams_nonempty == _py_ngrams(kept, n), r.text


def _package_count(text: str) -> int:
    n = 0
    pkg = os.path.join(REPO, "mrtweety_analytic_spark")
    for root, _, files in os.walk(pkg):
        for name in files:
            if name.endswith(".py"):
                with open(os.path.join(root, name)) as f:
                    n += f.read().count(text)
    return n


@pytest.mark.parametrize(
    "text",
    [
        "F.arrays_zip(",
        "vals = sorted(counters.values()",
        'rlike("^[a-z]{2,}$")',
        '"the", "a", "an", "and", "or", "of", "to", "in", "is", "it"',
        'normalized_text(F.col("text"))',
        '(F.col("stop_ratio") <= 0.5)',
        '"<EMAIL>"',
    ],
    ids=[
        "ngram_window", "misra_gries_merge", "bpe_word", "stopwords",
        "normalized_text", "quality_gate", "redact",
    ],
)
def test_text_kernel_is_written_once(text):
    assert _package_count(text) == 1


def _code_only(source: str) -> str:
    """`source` with its comments and triple-quoted strings (docstrings,
    SQL oracles) blanked out, line breaks kept."""
    starts = [0]
    for line in source.splitlines(keepends=True):
        starts.append(starts[-1] + len(line))
    chars = list(source)
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        quoted = tok.string.lstrip("rbfuRBFU")[:3] in ('"""', "'''")
        if tok.type == tokenize.COMMENT or (
            tok.type == tokenize.STRING and quoted
        ):
            a = starts[tok.start[0] - 1] + tok.start[1]
            b = starts[tok.end[0] - 1] + tok.end[1]
            for i in range(a, b):
                if chars[i] != "\n":
                    chars[i] = " "
    return "".join(chars)


def _expression_count(pattern: str) -> int:
    """Matches of the regex `pattern` in the package's Python code,
    outside comments, docstrings and SQL strings."""
    n = 0
    pkg = os.path.join(REPO, "mrtweety_analytic_spark")
    for root, _, files in os.walk(pkg):
        for name in files:
            if name.endswith(".py"):
                with open(os.path.join(root, name)) as f:
                    n += len(re.findall(pattern, _code_only(f.read())))
    return n


@pytest.mark.parametrize(
    "pattern",
    [
        r"F\.floor\(.*\* 100 \+ 0\.5",
        re.escape("F.conv("),
        re.escape("0.7182725932495458"),
        re.escape("33 - F.length(F.bin("),
        re.escape('F.ceil(F.lit(q) * F.col("total"))'),
        re.escape('F.col("cum_a").cast("double") / F.col("na")'),
        re.escape('F.col("doc_b").alias("doc_id")'),
        re.escape('F.col("k") * F.col("target") / F.col("n_avail")'),
        re.escape("list(MIX_TARGETS.items())"),
        re.escape("F.lit(281474976710656.0)"),
    ],
    ids=[
        "cents", "md5_int", "hll_alpha", "hll_register",
        "cdf_quantile_pick", "cdf_distance", "near_tier", "mix_rate",
        "mix_targets", "md5_unit",
    ],
)
def test_exactness_kernel_is_written_once(pattern):
    assert _expression_count(pattern) == 1


def test_md5_hash_has_no_sql_string_copy():
    # the 48-bit doc_id hash goes through util.md5_int, not F.expr
    assert _expression_count(re.escape("F.expr(_HASH48)")) == 0


def _string_expression(node: ast.expr) -> bool:
    """A string literal, an f-string, or a method call / operator on one
    (`\"\"\"...\"\"\".format(x)`) — none but the plain literal sets __doc__."""
    if isinstance(node, ast.Constant):
        return isinstance(node.value, str)
    if isinstance(node, ast.JoinedStr):
        return True
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        return _string_expression(node.func.value)
    if isinstance(node, ast.BinOp):
        return _string_expression(node.left)
    return False


def test_registered_docstrings_are_docstrings():
    lost = []
    for name, fn in sorted(QUERIES.items()):
        fn = inspect.unwrap(fn)
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
        first = tree.body[0].body[0]
        if (
            isinstance(first, ast.Expr)
            and _string_expression(first.value)
            and fn.__doc__ is None
        ):
            lost.append(name)
    assert lost == []


_EXIT_AFTER_GATEWAY_SHUTDOWN = """
import sys
sys.path.insert(0, {repo!r})
from pyspark import SparkContext
from mrtweety_analytic_spark.session import get_spark
from mrtweety_analytic_spark.util import LastHandle

spark = get_spark("exit-release")
handle = LastHandle()
df = spark.range(10)
handle.persist(df)
df.count()
# stop the session, then the gateway and its JVM
spark.stop()
gateway = SparkContext._gateway
proc = gateway.proc
gateway.shutdown()
proc.stdin.close()
proc.wait(timeout=60)
SparkContext._gateway = None
SparkContext._jvm = None
"""


def test_exit_after_gateway_shutdown_is_quiet():
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEM="1g")
    run = subprocess.run(
        [sys.executable, "-c",
         _EXIT_AFTER_GATEWAY_SHUTDOWN.format(repo=REPO)],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    assert "Traceback" not in run.stderr, run.stderr[-2000:]


_SUPERSEDE_CHECKPOINT = """
import sys
sys.path.insert(0, {repo!r})
from mrtweety_analytic_spark.session import get_spark
from mrtweety_analytic_spark.util import LastHandle

spark = get_spark("checkpoint-release")
storage = spark.sparkContext._jsc.sc().getRDDStorageInfo
handle = LastHandle()
for _ in range(2):
    handle.replace(spark.range(10).localCheckpoint())
print("held", len(storage()))
handle.clear()
print("after", len(storage()))
"""


def test_superseded_checkpoint_release_is_quiet():
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEM="1g")
    run = subprocess.run(
        [sys.executable, "-c", _SUPERSEDE_CHECKPOINT.format(repo=REPO)],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    # the second generation's blocks are held, then freed
    assert "held 1" in run.stdout and "after 0" in run.stdout, run.stdout
    assert "was locally checkpointed" not in run.stderr, run.stderr[-2000:]
