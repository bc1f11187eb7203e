"""Dump .explain('formatted') for named queries() entries (and the two
flagship pipelines) to stdout — used to commit plan evidence under
plans/r*/ for the optimization rounds."""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crego_document_extractor_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_df(spark, name):
    if name == "flagship_extraction":
        from crego_document_extractor_spark import pipeline
        docs = spark.read.parquet(os.environ.get(
            "SPARK_GRAFT_CORPUS", "/tmp/spark_graft_bench_corpus_24000.parquet"))
        return pipeline.extract_from_raw(docs)
    if name == "clean_spans_pass":
        from crego_document_extractor_spark import pipeline
        from crego_document_extractor_spark.parse import parse_documents
        docs = spark.read.parquet(os.environ.get(
            "SPARK_GRAFT_CORPUS", "/tmp/spark_graft_bench_corpus_24000.parquet"))
        return pipeline.clean_spans(parse_documents(docs))
    import __spark_entry__ as entrymod
    return entrymod.queries()[name](spark, SF_DIR)


def main():
    spark = get_spark(master="local[4]")
    for name in sys.argv[1:]:
        df = get_df(spark, name)
        print(f"==== {name} ====")
        print(df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"))
    spark.stop()


if __name__ == "__main__":
    main()
