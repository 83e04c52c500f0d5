"""Seeded benchmark for the chatbot_spark engine; see README.md."""
