from ragflow_spark.functions.delimiters import get_delimiters
from ragflow_spark.functions.tokens import num_tokens, truncate


def test_empty():
    assert num_tokens("") == 0
    assert num_tokens(None) == 0


def test_word_pieces():
    # 4-char greedy pieces: "data" = 1, "partition" = ceil(9/4) = 3
    assert num_tokens("data") == 1
    assert num_tokens("partition") == 3
    assert num_tokens("a b c") == 3


def test_cjk_per_char():
    assert num_tokens("数据分析") == 4
    assert num_tokens("数据 data") == 3


def test_punct_runs():
    assert num_tokens("hello, world!") == 6  # hell+o , worl+d ! -> 2+1+2+1
    assert num_tokens("...") == 1
    assert num_tokens("......") == 2


def test_truncate():
    s = "word " * 50
    t = truncate(s, 10)
    assert num_tokens(t) <= 10
    assert s.startswith(t)


def test_delimiters_longest_first():
    pat = get_delimiters("\n。`##`")
    assert pat.startswith("\\#\\#")  # multi-char first
    assert "\\\n" in pat or "\n" in pat
