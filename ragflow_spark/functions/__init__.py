from ragflow_spark.functions.tokens import num_tokens  # noqa: F401
from ragflow_spark.functions.delimiters import get_delimiters  # noqa: F401
