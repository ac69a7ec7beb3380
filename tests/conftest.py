import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_connect_morphlines_spark import get_spark  # noqa: E402
from kafka_connect_morphlines_spark.record import wrap_value  # noqa: E402
from kafka_connect_morphlines_spark.sources import embedded_broker  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# One logical "person" row in three encodings, mirroring the reference's
# fixture strategy (Records.java:47-119): schemaless map / typed struct /
# raw JSON string, with fixed topic/partition/timestamp.
PERSON = {"firstName": "example", "lastName": "user", "email": "example.user@example.com", "age": 27}
PERSON_JSON = json.dumps(PERSON)
FIXED_TS = 1484897702123


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture()
def broker(spark, tmp_path):
    """The embedded file-backed Kafka broker for one test; yields its log
    directory, which is the ``bootstrap-servers`` value."""
    embedded_broker.install(spark)
    try:
        yield str(tmp_path / "broker")
    finally:
        embedded_broker.uninstall()


@pytest.fixture(scope="session")
def person_json_env(spark):
    """Envelope whose _value is the raw person JSON string (Records.java:101-119)."""
    return wrap_value(spark.createDataFrame([(PERSON_JSON,)], "_value string"), timestamp_ms=FIXED_TS)


@pytest.fixture(scope="session")
def person_struct_env(spark):
    """Envelope whose _value is the typed person struct (Records.java:71-99)."""
    df = spark.createDataFrame(
        [(PERSON["firstName"], PERSON["lastName"], PERSON["email"], PERSON["age"])],
        "firstName string, lastName string, email string, age int",
    )
    return wrap_value(df, timestamp_ms=FIXED_TS)


@pytest.fixture(scope="session")
def tables(spark):
    def load(name):
        return spark.read.parquet(f"{SF_DIR}/{name}.parquet")

    return load
