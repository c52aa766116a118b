from pipelinewise_spark.operators.sdc import add_sdc_columns  # noqa: F401
from pipelinewise_spark.operators.dedupe import last_wins_dedupe  # noqa: F401
from pipelinewise_spark.operators.merge import merge_upsert  # noqa: F401
