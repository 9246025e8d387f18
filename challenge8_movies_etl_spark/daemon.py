"""Python worker daemon for sessions built by ``session.get_spark()``:
``pyspark.daemon`` with ``zipcache.install()`` run before it forks the
workers, so every worker inherits the fix. Spark starts it as
``python -m challenge8_movies_etl_spark.daemon`` (the
``spark.python.daemon.module`` conf).
"""

from challenge8_movies_etl_spark import zipcache

if __name__ == "__main__":
    zipcache.install()
    from pyspark.daemon import manager

    manager()
