"""build_session's tuned defaults."""


def test_console_progress_bar_is_off(spark):
    """Progress bars go to stderr and would share the line of a script's
    final JSON output."""
    assert spark.sparkContext.getConf().get(
        "spark.ui.showConsoleProgress") == "false"
