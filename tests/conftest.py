import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("pdf-parser-spark-tests")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def transcripts_sf0001():
    from pdf_parser_spark.generator import transcripts_path

    return transcripts_path(0.001)


@pytest.fixture(scope="module")
def no_oracle_fallback():
    """Switch off extraction's batch-level oracle fallback for a test
    module: a vectorized core that raises then fails the module's parity
    tests instead of passing on the oracle's own rows."""
    from pdf_parser_spark.operators import extract

    def reraise(pdf, variants, exc):
        raise exc

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(extract, "_oracle_fallback", reraise)
        yield
