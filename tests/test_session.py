"""Session factory settings that results depend on."""


def test_jvm_locale_pinned(spark):
    """Spark's lower() on non-ASCII text follows the JVM default locale;
    the text kernels' str.lower() matches it under en-US."""
    assert spark.sparkContext._jvm.java.util.Locale.getDefault().toString() == "en_US"
